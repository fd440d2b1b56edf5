"""Contract-level unit tests for the retrieval/eval/graph operators on
tiny synthetic frames — the properties the oracle-parity rows exercise
indirectly, pinned directly: RRF one-list handling, NDCG boundary
values, BFS frontier semantics, MMR diversification behavior."""

from __future__ import annotations

from pyspark.sql import functions as F

from dask_obj_spark.operators.retrieval import mmr_rerank, ndcg_at_k, rrf_fuse
from dask_obj_spark.operators.similarity import bfs_hops


def test_rrf_one_list_doc_scores_single_term(spark):
    lex = spark.createDataFrame([(1, 1), (2, 2)], "doc_id long, lex_rank int")
    sem = spark.createDataFrame([(1, 1), (3, 2)], "doc_id long, sem_rank int")
    out = {r.doc_id: r for r in rrf_fuse(lex, sem, "doc_id").collect()}
    assert set(out) == {1, 2, 3}
    # doc 1 in both lists: 1/61 + 1/61; docs 2/3 in one list: 1/62
    assert abs(out[1].rrf - 2 / 61) < 1e-6
    assert abs(out[2].rrf - 1 / 62) < 1e-6
    assert out[2].sem_rank == -1 and out[3].lex_rank == -1  # sentinel, not NULL


def test_ndcg_perfect_and_empty(spark):
    truth = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3)], "id1 long, id2 long, rank int"
    )
    perfect = ndcg_at_k(truth, truth, 3).collect()[0]
    assert abs(perfect.ndcg - 1.0) < 1e-9
    miss = spark.createDataFrame(
        [(0, 99, 1), (0, 98, 2), (0, 97, 3)], "id1 long, id2 long, rank int"
    )
    empty = ndcg_at_k(truth, miss, 3).collect()[0]
    assert empty.ndcg == 0.0


def test_ndcg_prefers_early_hits(spark):
    truth = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2)], "id1 long, id2 long, rank int"
    )
    hit_first = spark.createDataFrame(
        [(0, 10, 1), (0, 99, 2)], "id1 long, id2 long, rank int"
    )
    hit_last = spark.createDataFrame(
        [(0, 99, 1), (0, 10, 2)], "id1 long, id2 long, rank int"
    )
    a = ndcg_at_k(truth, hit_first, 2).collect()[0].ndcg
    b = ndcg_at_k(truth, hit_last, 2).collect()[0].ndcg
    assert a > b > 0


def test_ndcg_truth_deeper_than_k_never_exceeds_one(spark):
    """Relevance and IDCG must come from the SAME truth slice
    (rank <= k): with a depth-4 truth table and k=2, an approx list
    whose top-2 are truth ranks 3 and 4 previously counted them as
    relevant while IDCG normalized over only 2 positions — NDCG was
    exactly 1.0 for a ranking that found NONE of the true top-2 (r13
    review finding)."""
    truth = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3), (0, 13, 4)],
        "id1 long, id2 long, rank int",
    )
    tail_only = spark.createDataFrame(
        [(0, 12, 1), (0, 13, 2)], "id1 long, id2 long, rank int"
    )
    out = ndcg_at_k(truth, tail_only, 2).collect()[0]
    assert out.ndcg == 0.0
    # and a genuine top-2 match still scores 1.0
    top2 = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2)], "id1 long, id2 long, rank int"
    )
    assert abs(ndcg_at_k(truth, top2, 2).collect()[0].ndcg - 1.0) < 1e-9


def test_bfs_hops_frontier_semantics(spark):
    # path graph 0-1-2-3-4, plus isolated 9
    vs = spark.createDataFrame([(i,) for i in [0, 1, 2, 3, 4, 9]], "id long")
    es = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4)], "u long, v long"
    )
    seeds = spark.createDataFrame([(0,)], "id long")
    out = {r.id: r.dist for r in bfs_hops(vs, es, seeds, rounds=2).collect()}
    assert out == {0: 0, 1: 1, 2: 2, 3: -1, 4: -1, 9: -1}  # depth-bounded
    out4 = {r.id: r.dist for r in bfs_hops(vs, es, seeds, rounds=4).collect()}
    assert out4 == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4, 9: -1}


def test_mmr_penalizes_redundancy(spark):
    # probe 0: candidate 1 most relevant; candidate 2 nearly identical
    # to 1; candidate 3 less relevant but diverse → picks = 1 then 3
    cand = spark.createDataFrame(
        [(0, 1, 0.95), (0, 2, 0.94), (0, 3, 0.80)],
        "pid long, cid long, rel double",
    )
    sim = spark.createDataFrame(
        [
            (0, 1, 2, 0.99), (0, 2, 1, 0.99),
            (0, 1, 3, 0.10), (0, 3, 1, 0.10),
            (0, 2, 3, 0.10), (0, 3, 2, 0.10),
        ],
        "pid long, c1 long, c2 long, sim double",
    )
    picks = {
        r.pick_order: r.id2 for r in mmr_rerank(cand, sim, picks=2).collect()
    }
    assert picks == {1: 1, 2: 3}  # pure relevance would pick 2 second


def _py_mmr(cands, sims, picks, lam=0.7):
    """Plain-Python greedy MMR: the reference trajectory per probe."""
    out = []
    for pid, cs in cands.items():
        picked = []
        while len(picked) < picks:
            taken = {cid for cid, _ in picked}
            rem = [(cid, rel) for cid, rel in cs if cid not in taken]
            if not rem:
                break
            if not picked:
                cid, rel = max(rem, key=lambda c: (c[1], -c[0]))
                picked.append((cid, lam * rel))
                continue

            def score(c):
                ms = [sims[pid, c[0], p] for p, _ in picked if (pid, c[0], p) in sims]
                return lam * c[1] - (1 - lam) * (max(ms) if ms else 0.0)

            best = max(rem, key=lambda c: (score(c), -c[0]))
            picked.append((best[0], score(best)))
        out += [(pid, cid, i + 1, s) for i, (cid, s) in enumerate(picked)]
    return sorted(out)


def test_mmr_edge_cases_match_python_greedy_without_per_round_jobs(spark):
    """One per-probe aggregate, checked against a plain-Python greedy on:
    seeded random probes, a 2-candidate probe asked for 3 picks (only
    its real picks, no null rows), a first-round rel tie and a later
    exact score tie (both broken by cid asc, whatever the input order),
    and picks=1 (no greedy rounds at all).  The whole greedy runs in
    one plan: picks=5 must not run more Spark jobs than picks=2."""
    import random

    rng = random.Random(7)
    cands = {
        pid: [(pid * 100 + j, rng.random()) for j in range(6)] for pid in range(4)
    }
    cands[10] = [(1002, 0.9), (1001, 0.4)]  # fewer candidates than picks
    # probe 20: rel tie between 2003 and 2001 in round 1; 2005 and 2004
    # tie exactly on score in round 2 (same rel, same sim to the pick)
    cands[20] = [(2003, 0.6), (2001, 0.6), (2005, 0.5), (2004, 0.5)]
    sims = {}
    for pid, cs in cands.items():
        for a, _ in cs:
            for b, _ in cs:
                if a < b:
                    sims[pid, a, b] = sims[pid, b, a] = rng.random()
    sims[20, 2005, 2001] = sims[20, 2001, 2005] = 0.25
    sims[20, 2004, 2001] = sims[20, 2001, 2004] = 0.25
    sims[20, 2003, 2001] = sims[20, 2001, 2003] = 0.99
    cand = spark.createDataFrame(
        [(pid, cid, rel) for pid, cs in cands.items() for cid, rel in cs],
        "pid long, cid long, rel double",
    )
    sim = spark.createDataFrame(
        [(pid, a, b, v) for (pid, a, b), v in sims.items()],
        "pid long, c1 long, c2 long, sim double",
    )
    sc = spark.sparkContext
    jobs = {}
    for picks in (1, 2, 3, 5):
        group = f"mmr_edge_picks_{picks}"
        sc.setJobGroup(group, group)
        try:
            got = sorted(tuple(r) for r in mmr_rerank(cand, sim, picks=picks).collect())
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[picks] = len(sc.statusTracker().getJobIdsForGroup(group))
        want = _py_mmr(cands, sims, picks)
        assert [r[:3] for r in got] == [r[:3] for r in want], picks
        for g, w in zip(got, want):
            assert abs(g[3] - w[3]) < 1e-6
        assert all(None not in r for r in got)
        per_probe = {pid: sum(r[0] == pid for r in got) for pid in cands}
        assert per_probe == {pid: min(picks, len(cs)) for pid, cs in cands.items()}
    first = {r.id1: r.id2 for r in mmr_rerank(cand, sim, picks=1).collect()}
    assert first[20] == 2001  # rel tie: lower cid
    second = {
        r.id1: r.id2
        for r in mmr_rerank(cand, sim, picks=2).collect()
        if r.pick_order == 2
    }
    assert second[20] == 2004  # exact score tie: lower cid
    assert jobs[5] <= jobs[2]


def test_maxsim_topk_probe_cap_fails_loudly(spark, monkeypatch):
    """r7-verdict #3: maxsim_topk's probe side is N/probe_mod — linear
    in the corpus — so it must carry the same MAX_PROBES loud-failure
    contract as every other brute harness, never silently broadcast an
    unbounded probe set."""
    import pytest
    from pyspark.sql import functions as F
    from dask_obj_spark.operators import similarity as sim
    from dask_obj_spark.operators.retrieval import maxsim_topk

    df = spark.range(40).select(
        F.col("id").alias("vid"),
        F.array(F.lit(1.0), F.col("id").cast("double") + 1.0).alias("v"),
    )
    monkeypatch.setattr(sim, "MAX_PROBES", 8)
    with pytest.raises(ValueError, match="MAX_PROBES"):
        maxsim_topk(df, "vid", "v", probe_mod=2, tokens=2, dim=2)
    # under the cap the harness still runs
    out = maxsim_topk(df, "vid", "v", probe_mod=7, k=3, tokens=2, dim=2)
    assert out.count() > 0
