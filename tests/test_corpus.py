"""Unit tests for operators/corpus.py (training-corpus pipeline ops).

Oracle parity at sf0.01 is covered by test_oracle_parity.py; these pin
the operator semantics directly on hand-built inputs.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dask_obj_spark.operators.corpus import (
    connected_components,
    contamination_hits,
    dedup_cluster_assignment,
    hash_split,
    mix_rebalance,
    ngram_vocab,
    pack_bins,
    pack_payload,
    pagerank,
    quantize_embeddings_int8,
    weighted_sample,
)


def test_connected_components_two_chains_and_singleton(spark):
    # components: {1,2,3,4} via a chain, {10,11}, vertex 20 self-loop
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (20, 20)], ["src", "dst"]
    )
    got = {
        r["id"]: r["cluster_id"] for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}


def test_connected_components_long_path_converges(spark):
    # path graph 0-1-2-...-9: worst case for min-label propagation
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], ["src", "dst"]
    )
    got = connected_components(edges).collect()
    assert all(r["cluster_id"] == 0 for r in got)
    assert len(got) == 10


def test_connected_components_chain_logarithmic_rounds(spark):
    # 1000-vertex path: min-label propagation needs ~999 rounds (O(diameter));
    # large-star/small-star must land in O(log n) — ≤ 2·log2(1000) ≈ 20
    import math

    n = 1000
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["src", "dst"])
    rounds: list[int] = []
    got = connected_components(edges, max_iter=30, _rounds_out=rounds).collect()
    assert len(got) == n
    assert all(r["cluster_id"] == 0 for r in got)
    assert rounds[0] <= 2 * math.ceil(math.log2(n)), rounds


def test_connected_components_random_vs_union_find(spark):
    # property check vs a driver-side union-find on a random-ish graph
    import random

    rng = random.Random(7)
    n = 200
    es = [(rng.randrange(n), rng.randrange(n)) for _ in range(150)]
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in es:
        parent[find(a)] = find(b)
    seen = {v for e in es for v in e}
    expect = {}
    mins: dict[int, int] = {}
    for x in sorted(seen):
        mins.setdefault(find(x), x)
    for x in seen:
        expect[x] = mins[find(x)]
    edges = spark.createDataFrame(es, ["src", "dst"])
    got = {r["id"]: r["cluster_id"] for r in connected_components(edges).collect()}
    assert got == expect


def test_dedup_cluster_assignment_covers_all_docs(spark):
    docs = spark.createDataFrame([(i,) for i in range(6)], ["doc_id"])
    pairs = spark.createDataFrame([(0, 3), (3, 5)], ["id1", "id2"])
    rows = {
        r["doc_id"]: (r["cluster_id"], r["is_keeper"])
        for r in dedup_cluster_assignment(docs, pairs).collect()
    }
    assert rows == {
        0: (0, 1),
        1: (1, 1),
        2: (2, 1),
        3: (0, 0),
        4: (4, 1),
        5: (0, 0),
    }


def test_pack_bins_contiguous_budget(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b c", "s1"),  # 3 tokens, cum 3, bin 0
            (2, "d e", "s1"),  # 2 tokens, cum 5, bin 0 (prefix 3 < 4)
            (3, "f g h i", "s1"),  # 4 tokens, cum 9, bin 1 (prefix 5)
            (4, "x", "s2"),  # other stream starts at bin 0
        ],
        ["doc_id", "text", "source"],
    )
    rows = {
        r["doc_id"]: (r["n_tokens"], r["cum_tokens"], r["bin_id"])
        for r in pack_bins(docs, "doc_id", "text", "source", 4).collect()
    }
    assert rows == {1: (3, 3, 0), 2: (2, 5, 0), 3: (4, 9, 1), 4: (1, 1, 0)}


def test_pack_payload_order_is_by_id_not_arrival(spark):
    docs = spark.createDataFrame(
        [(3, "cc", "s"), (1, "aa", "s"), (2, "bb", "s")],
        ["doc_id", "text", "source"],
    ).repartition(4)  # scramble physical order
    rows = pack_payload(docs, "doc_id", "text", "source", 100, "|").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["n_docs"], r["bin_tokens"], r["payload"]) == (3, 3, "aa|bb|cc")


def test_mix_rebalance_weights(spark):
    docs = spark.createDataFrame(
        [(i, "en" if i < 300 else "de") for i in range(400)],
        ["doc_id", "lang"],
    )
    kept = mix_rebalance(docs, "doc_id", "lang", {"en": 0.3}, 1.0)
    by_lang = {r["lang"]: r["n"] for r in kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by_lang["de"] == 100  # default weight 1.0 keeps all
    assert 0.15 * 300 < by_lang["en"] < 0.45 * 300  # ~30% of en
    # weight 0 drops the group entirely
    assert mix_rebalance(docs, "doc_id", "lang", {"en": 0.0}, 1.0).filter(
        F.col("lang") == "en"
    ).count() == 0


def test_ngram_vocab_counts_and_rank(spark):
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "x y")], ["doc_id", "text"]
    )
    # bigrams: doc1: "a b","b a","a b"; doc2: "a b","b c"; doc3: "x y"
    rows = ngram_vocab(docs, "text", 2, 2, 10).collect()
    assert [(r["ngram"], r["n"], r["rank"]) for r in rows] == [("a b", 3, 1)]


def test_contamination_hits_counts_distinct_overlap(spark):
    docs = spark.createDataFrame(
        [
            (0, "one two three four"),  # eval (id % 2 == 0 with eval_mod=2)
            (1, "one two three four five"),  # train: shares 2-grams
            (3, "nothing shared here at all"),  # train: no overlap
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r["n_overlap"]
        for r in contamination_hits(docs, "doc_id", "text", 2, 2).collect()
    }
    # doc1's 2-gram shingles: {one two, two three, three four, four five};
    # eval inventory: {one two, two three, three four} -> 3 hits
    assert rows == {1: 3}


def test_quantize_int8_bounds_and_exact_absmax(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, -2.0, 0.5]), (2, [0.0, 0.0, 0.0])],
        ["vec_id", "embedding"],
    )
    rows = quantize_embeddings_int8(emb, "vec_id", "embedding").collect()
    got = {r["vec_id"]: r for r in rows}
    # zero vector is excluded, not divided by
    assert set(got) == {1}
    r = got[1]
    # absmax element hits exactly ±127; everything within int8 range
    assert r["q_min"] == -127 and -127 <= r["q_max"] <= 127
    assert abs(r["scale"] - 2.0 / 127.0) < 1e-6
    # 1.0 -> floor(63.5 + 0.5) = 64; -2.0 -> -127; 0.5 -> 32; sum = -31
    assert r["q_sum"] == 64 - 127 + 32


def test_pagerank_matches_python_reference(spark):
    # path graph 1-2-3 plus isolated pair 10-11
    edges = [(1, 2), (2, 3), (10, 11)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["id"]: r["rank"] for r in pagerank(df, n_iter=10).collect()}

    # straight-line reference replay (symmetric graph, no dangling mass)
    sym = {}
    for a, b in edges:
        sym.setdefault(a, set()).add(b)
        sym.setdefault(b, set()).add(a)
    n = len(sym)
    ranks = {v: 1.0 / n for v in sym}
    for _ in range(10):
        nxt = {}
        for v in sym:
            in_sum = sum(ranks[u] / len(sym[u]) for u in sym if v in sym[u])
            nxt[v] = 0.15 / n + 0.85 * in_sum
        ranks = nxt
    for v in sym:
        assert abs(got[v] - ranks[v]) < 1e-6
    # middle of the path outranks its endpoints; ranks sum to ~1
    assert got[2] > got[1] and got[2] > got[3]
    assert abs(sum(got.values()) - 1.0) < 1e-6


def test_hash_split_deterministic_partition(spark):
    df = spark.createDataFrame([(i,) for i in range(500)], ["doc_id"])
    out = hash_split(df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == 500  # total partition: every row exactly one split
    assert counts["train"] > counts.get("val", 0) and counts["train"] > counts.get("test", 0)
    # stable across recomputation
    again = {r["split"]: r["n"] for r in hash_split(df, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}).groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == again


def test_weighted_sample_deterministic_and_monotone(spark):
    scored = spark.createDataFrame(
        [(i, 0.5) for i in range(400)], ["doc_id", "score"]
    )
    a = sorted(r["doc_id"] for r in weighted_sample(scored, "doc_id", "score").collect())
    b = sorted(r["doc_id"] for r in weighted_sample(scored, "doc_id", "score").collect())
    assert a == b  # no RNG: identical across runs
    # rate ~ 0.5 (hash-uniform; wide tolerance to stay non-flaky)
    assert 0.35 * 400 < len(a) < 0.65 * 400
    # score=0 keeps nothing, score=1 keeps everything
    zero = scored.withColumn("score", F.lit(0.0))
    one = scored.withColumn("score", F.lit(1.0))
    assert weighted_sample(zero, "doc_id", "score").count() == 0
    assert weighted_sample(one, "doc_id", "score").count() == 400


def test_funnel_stage_requires_order(spark, monkeypatch):
    from datetime import datetime

    import dask_obj_spark.queries_relational as qr

    ts = lambda m: datetime(2024, 1, 1, 0, m)
    rows = [
        # user 1: full ordered funnel
        (1, ts(0), "view"), (1, ts(1), "click"), (1, ts(2), "purchase"),
        # user 2: purchase BEFORE click -> stops at stage 2
        (2, ts(0), "view"), (2, ts(2), "click"), (2, ts(1), "purchase"),
        # user 3: click before any view -> stage 1 only
        (3, ts(0), "click"), (3, ts(1), "view"),
        # user 4: never viewed -> stage 0
        (4, ts(0), "error"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    monkeypatch.setattr(qr, "_t", lambda s, d, n: df)
    got = {r["stage"]: r["n_users"] for r in qr.funnel_stages(spark, "unused").collect()}
    assert got == {3: 1, 2: 1, 1: 1, 0: 1}


def test_retention_cohorts_semantics(spark, monkeypatch):
    from datetime import datetime

    import dask_obj_spark.queries_relational as qr

    d = lambda day, h=3: datetime(2024, 1, day, h)
    rows = [
        # user 1: first active day1, returns day2 and day3
        (1, d(1)), (1, d(2)), (1, d(3)),
        # user 2: first active day1 only (two events same day -> one user-day)
        (2, d(1)), (2, d(1, 9)),
        # user 3: first active day2, returns day3
        (3, d(2)), (3, d(3)),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"]).withColumn(
        "event_type", F.lit("view")
    )
    monkeypatch.setattr(qr, "_t", lambda s, dd, n: df)
    got = {
        (r["cohort_ts"], r["day_offset"]): r["n_active"]
        for r in qr.retention_cohorts(spark, "unused").collect()
    }
    e = lambda day: int(datetime(2024, 1, day).timestamp())
    assert got == {
        (e(1), 0): 2, (e(1), 1): 1, (e(1), 2): 1,
        (e(2), 0): 1, (e(2), 1): 1,
    }


def test_cap_per_facet_deterministic(spark):
    from dask_obj_spark.operators.corpus import cap_per_facet

    rows = [(i, f"s{i % 3}") for i in range(30)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    a = {(r.doc_id, r.source) for r in cap_per_facet(df, "doc_id", "source", 4).collect()}
    # every facet capped at exactly 4 (each has 10 candidates)
    from collections import Counter

    per = Counter(s for _, s in a)
    assert per == {"s0": 4, "s1": 4, "s2": 4}
    # deterministic: the same rows survive on re-run and under a different
    # physical layout
    b = {
        (r.doc_id, r.source)
        for r in cap_per_facet(df.repartition(7), "doc_id", "source", 4).collect()
    }
    assert a == b


# -- context-window chunking --------------------------------------------------


def test_chunk_windows_overlap_and_tail(spark):
    from dask_obj_spark.operators.corpus import chunk_windows

    text = "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"
    df = spark.createDataFrame([(7, text)], ["doc_id", "text"])
    rows = sorted(
        chunk_windows(df, "doc_id", "text", chunk_size=4, stride=3).collect(),
        key=lambda r: r.chunk_idx,
    )
    got = [(r.chunk_idx, r.n_tokens, r.chunk_text) for r in rows]
    assert got == [
        (0, 4, "t0 t1 t2 t3"),
        (1, 4, "t3 t4 t5 t6"),
        (2, 4, "t6 t7 t8 t9"),
        (3, 1, "t9"),
    ]


def test_chunk_windows_short_doc_single_chunk(spark):
    from dask_obj_spark.operators.corpus import chunk_windows

    df = spark.createDataFrame([(1, "only two")], ["doc_id", "text"])
    rows = chunk_windows(df, "doc_id", "text", chunk_size=32, stride=24).collect()
    assert len(rows) == 1
    assert rows[0].n_tokens == 2 and rows[0].chunk_text == "only two"


def test_chunk_windows_stride_equals_size_reconstructs(spark):
    # with stride == chunk_size the chunks partition the token stream:
    # concatenating them in chunk_idx order rebuilds every document
    from dask_obj_spark.operators.corpus import chunk_windows

    texts = [
        (1, "a b c d e f g"),
        (2, "one"),
        (3, " ".join(f"w{i}" for i in range(100))),
    ]
    df = spark.createDataFrame(texts, ["doc_id", "text"])
    out = chunk_windows(df, "doc_id", "text", chunk_size=8, stride=8).collect()
    rebuilt = {}
    for r in sorted(out, key=lambda r: (r.doc_id, r.chunk_idx)):
        rebuilt[r.doc_id] = (rebuilt.get(r.doc_id, "") + " " + r.chunk_text).strip()
    assert rebuilt == {d: t for d, t in texts}


def test_contrastive_negatives_deterministic_no_self(spark, sf_dir):
    from dask_obj_spark.operators.corpus import contrastive_negatives
    from dask_obj_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = sorted(map(tuple, contrastive_negatives(docs, "doc_id", 2, 8).collect()))
    b = sorted(map(tuple, contrastive_negatives(docs, "doc_id", 2, 8).collect()))
    assert a == b  # stable under re-execution
    assert all(doc != neg for doc, _, neg in a)
    n_docs = docs.count()
    # every doc draws k negatives (ring wrap loses none unless bucket_n==1)
    per_doc = {}
    for doc, j, _ in a:
        per_doc.setdefault(doc, set()).add(j)
    assert len(per_doc) >= n_docs * 0.99


def test_bpe_greedy_overlap_runs(spark):
    from dask_obj_spark.operators.corpus import (
        _bpe_apply_literal,
        _bpe_pair_w2,
        bpe_learn_merges,
    )
    from pyspark.sql import functions as F

    # "b b b b b": pair (b,b) matches at 4 consecutive positions; greedy
    # left-to-right merges positions 0 and 2 of the run -> "b_b b_b b"
    df = spark.createDataFrame([(1, "b b b b b")], ["doc_id", "text"])
    best = bpe_learn_merges(df, "doc_id", "text", rounds=1).collect()
    assert [tuple(r) for r in best] == [(1, "b", "b", 4)]
    sym = _bpe_pair_w2(
        df.select(
            F.col("doc_id"),
            F.posexplode(F.split(F.trim("text"), r"\s+")).alias("i", "s"),
        )
    )
    new_sym = _bpe_apply_literal(sym, "b", "b")
    assert [r.s for r in new_sym.orderBy("i").collect()] == ["b_b", "b_b", "b"]

    # two rounds on a corpus with a clear winner each round
    df2 = spark.createDataFrame(
        [(i, "x y x y z") for i in range(3)], ["doc_id", "text"]
    )
    merges = bpe_learn_merges(df2, "doc_id", "text", rounds=2).collect()
    got = {r["round"]: (r.w1, r.w2, r.n) for r in merges}
    assert got[1] == ("x", "y", 6)          # "x y" wins round 1
    assert got[2] == ("x_y", "x_y", 3)      # merged symbol pairs next


def test_triangle_counts_known_graphs(spark):
    from dask_obj_spark.operators.corpus import triangle_counts

    # K4: every vertex sits in C(3,2)=3 triangles; edges given in mixed
    # orientation + a duplicate + a self-loop to exercise canonicalization
    k4 = [(1, 2), (1, 3), (1, 4), (3, 2), (2, 4), (4, 3), (2, 1), (5, 5)]
    got = {
        r.v: r.n_tri
        for r in triangle_counts(
            spark.createDataFrame(k4, ["a", "b"]), "a", "b"
        ).collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}

    # path graph: no triangles
    path = [(i, i + 1) for i in range(10)]
    assert (
        triangle_counts(spark.createDataFrame(path, ["a", "b"]), "a", "b").count() == 0
    )


def test_semantic_contamination_flags_near_duplicate_of_eval(spark):
    """A train vector nearly parallel to an eval vector must be flagged
    with that eval id; an orthogonal one must not appear."""
    from dask_obj_spark.operators.corpus import semantic_contamination

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),   # centroid (vid % 61 == 1)
        (3, [1.0, 0.02, 0.0, 0.0]),  # eval (vid % 17 == 3)
        (5, [1.0, 0.01, 0.0, 0.0]),  # train, near eval 3 -> flagged
        (8, [0.0, 0.0, 1.0, 0.0]),   # train, orthogonal -> clean
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {
        r["vid"]: (r["eval_vid"], r["cos_x1m"])
        for r in semantic_contamination(
            df, "vec_id", "embedding", eval_mod=17, eval_rem=3,
            tau_x1m=900000, cell_mod=61,
        ).collect()
    }
    assert set(got) == {1, 5}  # the centroid itself is also near eval 3
    assert got[5][0] == 3 and got[5][1] >= 990000


def test_bpe_char_fit_classic_example(spark):
    """Sennrich's running example: 'low'x5 'lower'x2 'newest'x6
    'widest'x3 — first merges are (e,s), (es,t), (est,</w>)."""
    from dask_obj_spark.operators.corpus import bpe_char_fit

    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    merges = bpe_char_fit(df, "doc_id", "text", n_merges=3)
    assert merges == [("e", "s"), ("es", "t"), ("est", "</w>")]


def test_bpe_char_encode_invariants(spark):
    """Zero merges → every word costs len(word)+1 symbols; more merges
    never increase any doc's token count; fully-merged hot word → 1."""
    from dask_obj_spark.operators.corpus import bpe_char_encode, bpe_char_fit

    rows = [(1, "aaab aaab aaab cd"), (2, "aaab xy"), (3, None)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    none = {r["doc_id"]: r for r in bpe_char_encode(df, "doc_id", "text", []).collect()}
    assert none[1]["n_bpe_tokens"] == 3 * 5 + 3  # len+1 per word
    assert none[1]["n_words"] == 4 and none[1]["n_chars"] == 14
    assert none[3]["n_words"] == 0 and none[3]["n_bpe_tokens"] == 0

    merges = bpe_char_fit(df, "doc_id", "text", n_merges=10)
    enc = {r["doc_id"]: r for r in
           bpe_char_encode(df, "doc_id", "text", merges).collect()}
    for d in (1, 2):
        assert enc[d]["n_bpe_tokens"] <= none[d]["n_bpe_tokens"]
    # 'aaab' dominates the corpus: 10 merges fully fuse aaab</w> to one
    # symbol, so doc 1 costs 3 (aaab x3) plus at most 3 for 'cd'
    assert 3 + 1 <= enc[1]["n_bpe_tokens"] <= 3 + 3


def test_bpe_greedy_encode_rank_order():
    """Merge-RANK sensitivity of the shared greedy encode helper (the
    roundtrip oracle cannot see rank bugs — concatenation is invariant
    under application order — so this test is the rank witness): the
    lowest-rank eligible pair merges first, and within a rank the
    leftmost occurrence wins."""
    from dask_obj_spark.operators.corpus import _bpe_greedy_encode

    def ranks(merges):
        return {tuple(m): r for r, m in enumerate(merges)}

    # (a,b) ranked before (b,c): "abc" -> ab|c, never a|bc
    assert _bpe_greedy_encode("abc", ranks([("a", "b"), ("b", "c")])) == [
        "ab", "c", "</w>",
    ]
    # swap the ranks and the SAME word tokenizes differently
    assert _bpe_greedy_encode("abc", ranks([("b", "c"), ("a", "b")])) == [
        "a", "bc", "</w>",
    ]
    # leftmost-first within one rank: "aaa" -> aa|a (then no (aa,a) rule)
    assert _bpe_greedy_encode("aaa", ranks([("a", "a")])) == ["aa", "a", "</w>"]
    # cascading merges reach the full word marker
    full = ranks([("e", "s"), ("es", "t"), ("est", "</w>"),
                  ("l", "o"), ("lo", "w"), ("low", "est</w>")])
    assert _bpe_greedy_encode("lowest", full) == ["lowest</w>"]
    assert _bpe_greedy_encode("west", full) == ["w", "est</w>"]


def test_bpe_char_roundtrip_reconstructs_edge_cases(spark):
    """The decode-round-trip companion: rebuilt md5 equals the md5 of
    the whitespace-normalized source and ok=1, including NULL text,
    empty text, runs of mixed whitespace, and unicode words."""
    import hashlib

    from dask_obj_spark.operators.corpus import (
        bpe_char_fit,
        bpe_char_roundtrip,
    )

    rows = [
        (1, "low low lower  newest\twidest"),
        (2, None),
        (3, "   "),
        (4, "héllo wörld héllo"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    merges = bpe_char_fit(df, "doc_id", "text", n_merges=8)
    got = {
        r["doc_id"]: r
        for r in bpe_char_roundtrip(df, "doc_id", "text", merges).collect()
    }
    expect = {
        1: "low low lower newest widest",
        2: "",
        3: "",
        4: "héllo wörld héllo",
    }
    for d, norm_text in expect.items():
        assert got[d]["ok"] == 1
        assert got[d]["n_words"] == (len(norm_text.split()) if norm_text else 0)
        assert (
            got[d]["rebuilt_md5"]
            == hashlib.md5(norm_text.encode("utf-8")).hexdigest()
        )


def test_epoch_schedule_regimes_and_invariants(spark):
    """Skewed sources land in the right regimes: a giant source gets
    <1 epoch of the √n-weighted budget (unique), a mid source 1-4
    epochs (repeat), a tiny one >4 (diminishing).  Discount
    invariants: eff == alloc when epochs ≤ 1, n_s ≤ eff < alloc when
    epochs > 1, and eff is capped by U·(1+R*) as R → ∞."""
    from dask_obj_spark.operators.corpus import epoch_schedule

    rows = (
        [(i, "w " * 2000, "giant") for i in range(50)]
        + [(1000 + i, "w " * 500, "mid") for i in range(10)]
        + [(2000 + i, "w " * 10, f"tiny{i}") for i in range(300)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = {
        r["source"]: r
        for r in epoch_schedule(df, "text", "source", budget_mult=3).collect()
    }
    # √n up-weighting splits the 3x budget across 300 tiny competitors:
    # the giant's share falls under one epoch, the mid lands at ~3.4,
    # every tiny source repeats ~77x — deep in diminishing returns
    assert got["giant"]["regime"] == "unique"
    assert got["mid"]["regime"] == "repeat"
    assert got["tiny0"]["regime"] == "diminishing"
    # weights sum to ~1 (floor quantization loses < 1 ppm per source)
    wsum = sum(r["weight_x1m"] for r in got.values())
    assert 1_000_000 - len(got) <= wsum <= 1_000_000
    tot = sum(r["n_tokens"] for r in got.values())
    for r in got.values():
        alloc = 3 * tot * (r["weight_x1m"] / 1e6)
        if r["epochs_x1m"] <= 1_000_000:
            assert abs(r["eff_tokens"] - alloc) <= alloc * 0.01 + 2
        else:
            assert r["n_tokens"] <= r["eff_tokens"] < alloc
            assert r["eff_tokens"] < r["n_tokens"] * (1 + 15.0) + 1


def test_global_shuffle_shards_is_a_permutation(spark):
    """Every row lands in exactly one (shard, pos) slot; positions are
    1..count_per_shard dense; the same salt replays identically and a
    different salt yields a different order."""
    from dask_obj_spark.operators.corpus import global_shuffle_shards

    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    out = global_shuffle_shards(df, "doc_id", n_shards=4).collect()
    assert len(out) == 500
    assert sorted(r["doc_id"] for r in out) == list(range(500))
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) <= set(range(4))
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # balanced to well within 4x of even (uniform 60-bit keys, n=500)
    sizes = [len(v) for v in by_shard.values()]
    assert max(sizes) < 2.2 * min(sizes)
    # replay: identical; new salt: different permutation
    again = global_shuffle_shards(df, "doc_id", n_shards=4).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))
    other = global_shuffle_shards(df, "doc_id", n_shards=4, salt="s1").collect()
    assert sorted(map(tuple, other)) != sorted(map(tuple, out))


def test_interleave_sources_weight_proportional(spark):
    """In any prefix of the stride-scheduled stream, each source
    appears in proportion to its weight; positions are dense and the
    per-source subsequence respects within-source rank order."""
    from dask_obj_spark.operators.corpus import interleave_sources

    rows = [(f"s{g}", g * 1000 + i) for g in range(3) for i in range(200)]
    df = spark.createDataFrame(rows, ["source", "doc_id"])
    w = F.when(F.col("source") == "s0", 1).when(
        F.col("source") == "s1", 2
    ).otherwise(3)
    out = interleave_sources(df, "source", "doc_id", w, prefix=120).collect()
    assert [r["global_pos"] for r in out] == list(range(1, 121))
    counts = {}
    ranks = {}
    for r in out:
        counts[r["source"]] = counts.get(r["source"], 0) + 1
        ranks.setdefault(r["source"], []).append(r["src_rank"])
    # 120 slots at weights 1:2:3 → ~20/40/60 (±1 boundary effects)
    assert abs(counts["s0"] - 20) <= 1 and abs(counts["s1"] - 40) <= 1
    assert abs(counts["s2"] - 60) <= 1
    for src, rs in ranks.items():
        assert rs == sorted(rs)  # stream order preserves source order


def test_stratified_split_exact_budget_and_proportional(spark):
    """The allocation contract: |val| equals floor(N·ppm/1e6) EXACTLY,
    every stratum's quota is within 1 of proportional, and membership
    is stable under repartitioning (pure function of id)."""
    from dask_obj_spark.operators.corpus import stratified_split

    rows = (
        [(i, "web", "en") for i in range(137)]
        + [(i + 1000, "web", "de") for i in range(61)]
        + [(i + 2000, "books", "en") for i in range(23)]
        + [(i + 3000, "code", "py") for i in range(7)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "source", "lang"])
    n = len(rows)  # 228
    ppm = 250_000  # 25% holdout
    out = stratified_split(df, "doc_id", ["source", "lang"], val_ppm=ppm)
    got = out.collect()
    assert len(got) == n
    val = [r for r in got if r["split"] == "val"]
    assert len(val) == n * ppm // 1_000_000  # exact global budget: 57
    from collections import Counter

    per = Counter((r["source"], r["lang"]) for r in val)
    sizes = Counter((r[1], r[2]) for r in rows)
    for s, n_s in sizes.items():
        exact = n_s * ppm / 1_000_000
        assert exact - 1 < per.get(s, 0) < exact + 1, (s, n_s, per.get(s, 0))
    # deterministic: same ids picked regardless of physical layout
    out2 = stratified_split(
        df.repartition(13), "doc_id", ["source", "lang"], val_ppm=ppm
    )
    ids = {r["doc_id"] for r in val}
    ids2 = {r["doc_id"] for r in out2.collect() if r["split"] == "val"}
    assert ids == ids2


def test_stratified_split_plan_two_scans_no_global_sort(spark, sf_dir):
    """Plan contract: the corpus feeds exactly TWO branches (the
    stratum count aggregate + the assignment window) — the quota
    math runs as windows over the dimension-sized count frame, never
    a third corpus scan (r8 plan audit) — and there is no
    rangepartitioning anywhere (no global sort)."""
    from dask_obj_spark.operators.corpus import stratified_split
    from dask_obj_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = stratified_split(docs, "doc_id", ["source", "lang"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 2, plan
    assert "rangepartitioning" not in plan, plan
    assert plan.count("BroadcastExchange") == 1, plan


def test_budget_select_budget_and_quality_monotone(spark, oracle_sf_dir):
    """Selection invariants: total selected tokens never exceed the
    budget; every bucket strictly above the lowest selected quality
    bucket is taken whole (quality-monotone up to bucket granularity);
    membership is stable under repartitioning."""
    from dask_obj_spark.operators.corpus import budget_select
    from dask_obj_spark.sources.tables import load_table

    docs = load_table(spark, oracle_sf_dir, "documents")
    budget = 10_000
    got = budget_select(docs, "doc_id", "text", token_budget=budget).collect()
    assert got
    assert sum(r["n_tok"] for r in got) <= budget
    sel_ids = {r["doc_id"] for r in got}
    min_bkt = min(r["q_x1m"] // 10_000 for r in got)
    # full corpus reference: every doc in a strictly higher bucket is in
    from dask_obj_spark.operators.text import quality_scores
    from pyspark.sql import functions as F

    all_q = (
        quality_scores(docs, "doc_id", "text")
        .select(
            "doc_id",
            (F.floor(F.col("quality") * 1000000.0).cast("bigint") / 10000)
            .cast("bigint")
            .alias("bkt"),
        )
        .collect()
    )
    for r in all_q:
        if r["bkt"] > min_bkt:
            assert r["doc_id"] in sel_ids, (r["doc_id"], r["bkt"], min_bkt)
    got2 = budget_select(
        docs.repartition(17), "doc_id", "text", token_budget=budget
    ).collect()
    assert {r["doc_id"] for r in got2} == sel_ids


def test_quality_psi_identical_source_scores_zero_with_empty_deciles(spark):
    """r8 advice regression: (a) empty corpus-wide deciles must not
    NULL-out every PSI (the ref distribution is zero-filled over all
    10 deciles), and (b) a source whose decile distribution equals the
    corpus's must score exactly 0 (epsilon-on-proportions smoothing is
    scale-free; add-one count smoothing read 0.71 here)."""
    from dask_obj_spark.operators.corpus import quality_psi_by_source

    # two sources with the SAME texts → same decile mix as the corpus;
    # real prose concentrates in a couple of deciles, leaving most of
    # the 10-bucket grid empty corpus-wide
    texts = [
        "The quick brown fox jumps over the lazy dog near the river bank.",
        "A short plain sentence about nothing much at all, written well.",
    ]
    rows = [(i, texts[i % 2], f"s{i % 2}") for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = {r["source"]: r["psi_x1m"] for r in
           quality_psi_by_source(df, "doc_id", "text", "source").collect()}
    assert set(got) == {"s0", "s1"}
    for v in got.values():
        assert v is not None
    # each source holds exactly one of the two texts → p_src puts all
    # mass in one decile vs the corpus's 50/50 split → PSI > 0; and a
    # third run with a perfectly mixed source scores exactly 0
    mixed = [(i, texts[i % 2], "mix") for i in range(40)]
    df2 = spark.createDataFrame(mixed, ["doc_id", "text", "source"])
    got2 = {r["source"]: r["psi_x1m"] for r in
            quality_psi_by_source(df2, "doc_id", "text", "source").collect()}
    assert got2["mix"] == 0


def test_diff_snapshots_null_text_is_not_added(spark):
    """r8 advice regression: presence comes from the join sides, not
    md5 nullness — a NULL-text doc present in both snapshots is
    unchanged (dropped), NULL→text is 'changed', and genuinely new
    NULL-text docs are 'added'."""
    from dask_obj_spark.operators.corpus import diff_snapshots

    old = spark.createDataFrame(
        [(1, None), (2, None), (3, "keep"), (4, "gone")],
        "doc_id: bigint, text: string",
    )
    new = spark.createDataFrame(
        [(1, None), (2, "now set"), (3, "keep"), (5, None)],
        "doc_id: bigint, text: string",
    )
    got = {r["doc_id"]: r["status"]
           for r in diff_snapshots(old, new, "doc_id", "text").collect()}
    assert got == {2: "changed", 4: "removed", 5: "added"}


def test_fim_transform_lossless_and_deterministic(spark):
    """FIM parts must be non-empty for eligible docs, re-concatenate to
    the normalized source, pass short docs through unsplit, and be
    identical across repartitionings (hash-derived cuts)."""
    from dask_obj_spark.operators.corpus import fim_transform

    rows = [
        (1, "a b c d e f g h"),
        (2, "one two three"),
        (3, "shorty here"),   # n=2: passthrough
        (4, None),
        (5, "  x   y\tz  "),  # messy whitespace
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in fim_transform(df, "doc_id", "text").collect()}
    assert len(got) == 5
    for d, txt in ((1, "a b c d e f g h"), (2, "one two three"),
                   (5, "x y z")):
        r = got[d]
        assert r.fim == 1
        assert r.prefix and r.middle and r.suffix
        joined = " ".join(p for p in (r.prefix, r.middle, r.suffix) if p)
        assert joined == txt, (d, joined)
        assert r.psm == f"<PRE>{r.prefix}<SUF>{r.suffix}<MID>{r.middle}"
    assert got[3].fim == 0 and got[3].prefix == "shorty here"
    assert got[3].middle == "" and got[3].suffix == ""
    assert got[4].fim == 0 and got[4].prefix == ""
    again = {
        r.doc_id: r
        for r in fim_transform(df.repartition(4), "doc_id", "text").collect()
    }
    assert {d: got[d].psm for d in got} == {d: again[d].psm for d in again}


def test_span_corruption_reconstruction_invariant(spark):
    """Splicing each target run back into its input sentinel must
    reproduce the normalized source exactly; counts must be coherent;
    output identical across repartitionings."""
    import re

    from dask_obj_spark.operators.corpus import span_corruption

    rows = [
        (1, " ".join(f"w{j}" for j in range(40))),
        (2, "alpha beta gamma"),
        (3, "single"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in span_corruption(df, "doc_id", "text").collect()}
    assert len(got) == 3
    for d, txt in ((1, rows[0][1]), (2, rows[1][1]), (3, rows[2][1])):
        r = got[d]
        toks = txt.split()
        assert r.n_tokens == len(toks)
        assert 0 <= r.n_masked <= r.n_tokens
        assert (r.n_spans == 0) == (r.n_masked == 0)
        # parse target runs: "<X_k> tok tok <X_k+1> tok ..."
        runs = {}
        cur = None
        for piece in r.model_target.split():
            m = re.fullmatch(r"<X_(\d+)>", piece)
            if m:
                cur = int(m.group(1))
                runs[cur] = []
            else:
                runs[cur].append(piece)
        # splice back
        out = []
        for piece in r.model_input.split():
            m = re.fullmatch(r"<X_(\d+)>", piece)
            out.extend(runs[int(m.group(1))] if m else [piece])
        assert out == toks, (d, out, toks)
        if r.n_spans:
            assert sorted(runs) == list(range(1, r.n_spans + 1))
            assert sum(len(v) for v in runs.values()) == r.n_masked
    again = {
        r.doc_id: (r.model_input, r.model_target)
        for r in span_corruption(df.repartition(5), "doc_id", "text").collect()
    }
    assert again == {
        d: (got[d].model_input, got[d].model_target) for d in got
    }


def test_budget_waterfill_rank_order_and_remainder(spark):
    """Higher-mean-quality sources fill first, the boundary source
    gets exactly the remainder, later sources get zero, and total
    allocation equals min(budget, corpus capacity)."""
    from dask_obj_spark.operators.corpus import budget_waterfill

    good = "the cat is on the mat and it is a fine day"        # high quality
    junk = "@@@ ### !!! $$$ %%%"                                # low quality
    rows = [(i, good, "hi") for i in range(3)]                  # 3x12 tokens
    rows += [(10 + i, junk, "lo") for i in range(4)]            # 4x5 tokens
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = {r.source: r for r in
           budget_waterfill(df, "doc_id", "text", "source", 40).collect()}
    assert got["hi"].mq_u > got["lo"].mq_u
    assert got["hi"].cap_tokens == 36 and got["lo"].cap_tokens == 20
    assert got["hi"].alloc_tokens == 36 and got["hi"].filled == 1
    assert got["lo"].prefix_tokens == 36
    assert got["lo"].alloc_tokens == 4 and got["lo"].filled == 0  # remainder
    # budget above capacity: everything filled
    all_in = {r.source: r for r in
              budget_waterfill(df, "doc_id", "text", "source", 1000).collect()}
    assert all(r.filled == 1 for r in all_in.values())
    # budget zero: nothing allocated
    none = budget_waterfill(df, "doc_id", "text", "source", 0).collect()
    assert all(r.alloc_tokens == 0 for r in none)


def test_kfold_exact_balance_and_stability(spark):
    """Every (stratum, fold) cell within one doc of perfect balance;
    assignment unchanged under repartitioning; k respected."""
    from dask_obj_spark.operators.corpus import kfold_exact

    rows = [(i, "a" if i < 13 else "b") for i in range(20)]  # 13 + 7
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    got = kfold_exact(df, "doc_id", "source", 4).collect()
    from collections import Counter

    cells = Counter((r.stratum, r.fold) for r in got)
    for s, n in (("a", 13), ("b", 7)):
        sizes = [cells[(s, f)] for f in range(4)]
        assert sum(sizes) == n
        assert max(sizes) - min(sizes) <= 1, (s, sizes)
    assert {r.fold for r in got} <= set(range(4))
    again = kfold_exact(df.repartition(6), "doc_id", "source", 4).collect()
    assert {(r.doc_id, r.fold) for r in again} == {
        (r.doc_id, r.fold) for r in got
    }


def test_leakage_safe_split_keeps_clusters_together(spark):
    """Every pair-connected doc shares its cluster's split; singleton
    docs split independently; fractions roughly honored at scale."""
    from dask_obj_spark.operators.corpus import leakage_safe_split

    docs = spark.createDataFrame([(i,) for i in range(200)], ["doc_id"])
    # chain clusters {0..4}, {10,11}; everything else singleton
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11)], ["id1", "id2"]
    )
    got = {
        r.doc_id: (r.cluster_id, r.split)
        for r in leakage_safe_split(
            docs, pairs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
        ).collect()
    }
    assert len(got) == 200
    assert len({got[i] for i in range(5)}) == 1      # one cluster, one side
    assert got[10] == got[11]
    sides = [got[i][1] for i in got]
    from collections import Counter

    c = Counter(sides)
    assert c["train"] > c["val"] and c["train"] > c["test"]
    assert set(c) <= {"train", "val", "test"}


def test_pack_segments_offsets_and_boundaries(spark):
    """Starts are contiguous within a bin (start_{i+1} = start_i +
    len_i), bins match pack_bins' prefix rule, and order is by id
    regardless of physical layout."""
    from dask_obj_spark.operators.corpus import pack_segments

    docs = spark.createDataFrame(
        [(3, "f g h i", "s1"), (1, "a b c", "s1"), (2, "d e", "s1"),
         (4, "x", "s2")],
        ["doc_id", "text", "source"],
    ).repartition(5)
    got = {
        (r.source, r.bin_id): r
        for r in pack_segments(docs, "doc_id", "text", "source", 4).collect()
    }
    # s1: docs 1(3),2(2) in bin 0; doc 3(4) in bin 1 (prefix 5)
    assert got[("s1", 0)].segments == "1:0:3|2:3:2"
    assert got[("s1", 0)].n_docs == 2 and got[("s1", 0)].bin_tokens == 5
    assert got[("s1", 1)].segments == "3:0:4"
    assert got[("s2", 0)].segments == "4:0:1"


def test_ngram_novelty_first_doc_full_late_dup_zero(spark):
    """The first doc is 100% novel; an exact duplicate arriving later
    is 0% novel; a half-overlapping doc scores the exact integer
    fraction."""
    from dask_obj_spark.operators.corpus import ngram_novelty

    a = "one two three four five six"
    rows = [(1, a), (2, a), (3, "one two three four seven eight")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in ngram_novelty(df, "doc_id", "text", 3).collect()}
    assert got[1].novelty_x1m == 1_000_000
    assert got[2].novelty_x1m == 0 and got[2].n_novel == 0
    # doc3 3-shingles: 4 total; "one two three","two three four" seen -> 2 novel
    assert got[3].n_distinct_grams == 4 and got[3].n_novel == 2
    assert got[3].novelty_x1m == 500_000


def test_quality_qnorm_uniform_within_source(spark):
    """Ranks normalize to k/n within each source regardless of raw
    scale; the best doc of every source scores exactly 1e6."""
    from dask_obj_spark.operators.corpus import quality_quantile_norm

    good = "the cat is on the mat and it is a fine day for the dog"
    mid = "the cat sat on a mat"
    junk = "@@@ ### !!!"
    rows = [(1, good, "a"), (2, mid, "a"), (3, junk, "a"),
            (4, good, "b"), (5, junk, "b")]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = {r.doc_id: r for r in
           quality_quantile_norm(df, "doc_id", "text", "source").collect()}
    a = sorted([got[1], got[2], got[3]], key=lambda r: r.qnorm_x1m)
    assert [r.qnorm_x1m for r in a] == [333333, 666666, 1000000]
    assert a[-1].doc_id == 1  # best raw quality ranks last (highest)
    b = sorted([got[4], got[5]], key=lambda r: r.qnorm_x1m)
    assert [r.qnorm_x1m for r in b] == [500000, 1000000]
    assert b[-1].doc_id == 4


def test_length_histogram_bit_buckets(spark):
    """Buckets are bit_length(n): n in [2^(b-1), 2^b); zero-length docs
    land in bucket 0; totals conserved."""
    from dask_obj_spark.operators.corpus import length_histogram

    rows = [(1, "a"), (2, "a b"), (3, "a b c"), (4, "a b c d"),
            (5, " ".join(["w"] * 17)), (6, None)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.bucket: r for r in length_histogram(df, "doc_id", "text").collect()}
    assert got[1].n_docs == 1 and got[1].min_tokens == 1   # n=1
    assert got[2].n_docs == 2 and got[2].min_tokens == 2 and got[2].max_tokens == 3
    assert got[3].n_docs == 1 and got[3].min_tokens == 4   # n=4 -> bucket 3
    assert got[5].n_docs == 1 and got[5].min_tokens == 17  # n=17 -> bucket 5
    assert got[0].n_docs == 1 and got[0].max_tokens == 0   # null text
    assert sum(r.n_docs for r in got.values()) == 6
    assert sum(r.sum_tokens for r in got.values()) == 1 + 2 + 3 + 4 + 17


def test_decontam_impact_counts_and_share(spark):
    """Flagged train docs count as dropped with their tokens; clean
    sources report zero drop share; totals conserved."""
    from dask_obj_spark.operators.corpus import decontam_impact

    ev = "one two three four five six seven eight"     # doc 0: eval
    hit = ev + " trailing extra words beyond overlap"  # shares the 8-gram
    clean = "nothing shared here at all in any way whatsoever"
    rows = [(0, ev, "e"), (1, hit, "a"), (3, clean, "a"), (5, clean, "b")]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = {r.source: r for r in
           decontam_impact(df, "doc_id", "text", "source",
                           eval_mod=20, shingle_n=8).collect()}
    assert got["a"].n_dropped == 1 and got["a"].n_kept == 1
    assert got["a"].tokens_dropped == len(hit.split())
    assert got["b"].n_dropped == 0 and got["b"].drop_share_x1m == 0
    tot = got["a"]
    assert tot.drop_share_x1m == (
        tot.tokens_dropped * 1_000_000
        // (tot.tokens_kept + tot.tokens_dropped)
    )


def test_pack_bins_null_text_parity_with_duckdb(spark):
    """r15 review-pass pin (NULL-edge lens): the pack family tokenizes
    with split(trim(text)) WITHOUT a coalesce — under ANSI Spark,
    size(NULL) is NULL and the windowed prefix sum SKIPS the null, and
    DuckDB's len/sum behave identically, so a NULL-text row yields
    (n_tokens NULL, bin NULL) on BOTH engines while its neighbors bin
    as if it were absent.  Pin that agreement so a future non-ANSI
    config (size(NULL) = -1) or a one-sided coalesce can't silently
    crack the pack_bins/pack_payload/pack_segments oracles."""
    import duckdb

    from dask_obj_spark.operators.corpus import pack_bins

    df = spark.createDataFrame(
        [(1, "a b c", "s1"), (2, None, "s1"), (3, "d e", "s1")],
        "doc_id long, text string, source string",
    )
    got = {
        r.doc_id: (r.n_tokens, r.cum_tokens, r.bin_id)
        for r in pack_bins(df, "doc_id", "text", "source", 4).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        "(1,'a b c','s1'),(2,NULL,'s1'),(3,'d e','s1')) t(doc_id, text, source)"
    )
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(
            r"""
            WITH t AS (
              SELECT doc_id, source,
                     len(string_split_regex(trim(text), '\s+')) AS n_tokens
              FROM documents
            ), c AS (
              SELECT doc_id, n_tokens,
                     sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_tokens
              FROM t
            )
            SELECT doc_id, n_tokens, CAST(cum_tokens AS BIGINT),
                   CAST(floor((cum_tokens - n_tokens) / 4) AS BIGINT)
            FROM c
            """
        ).fetchall()
    }
    con.close()
    assert got == want, (got, want)
    assert got[2] == (None, 3, None)  # the NULL row itself
    assert got[3] == (2, 5, 0)        # neighbor bins as if NULL row absent
