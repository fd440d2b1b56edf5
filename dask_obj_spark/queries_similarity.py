"""Query registrations and DuckDB oracles for ``operators/similarity.py``."""

from __future__ import annotations

import math

from pyspark.sql import Window
from pyspark.sql import functions as F

from dask_obj_spark.functions.vec import (
    DUCK,
    chain,
    cosine_sql,
    dot,
    dot_sql,
    l2_norm,
    norm_sql,
    sqdiff,
    sqdist,
    sqdist_sql,
)
from dask_obj_spark.operators.similarity import (
    CENTROID_MOD,
    DIM,
    HYPERPLANES,
    KMQ_SCALE,
    NBITS,
    NPROBE,
    PQ_CB_CAP,
    PQ_M,
    PQ_MOD,
    RBO_P,
    RP_DIM,
    RP_PLANES,
    _pq_sub,
    _rerank_topk,
    _rp_signs,
    _unit_vectors,
    _vectors,
    ann_recall,
    bfs_hops,
    binary_hamming_topk,
    cosine_ranked_raw,
    cosine_topk_brute,
    cosine_topk_brute_numpy,
    cosine_topk_ivf,
    cosine_topk_lsh,
    ivfpq_topk,
    k_core,
    kcenter_coreset,
    kmeans_assign,
    kmeans_fit_quantized,
    knn_graph_ann,
    label_propagation,
    link_prediction_jaccard,
    matryoshka_recall,
    pca_power_top_component,
    pca_top_components,
    pq_adc_ranked,
    pq_adc_trained_topk,
    pq_encode,
    pq_fit,
    random_project,
    random_projection,
    rbo_vs_exact,
    weighted_sssp,
)
from dask_obj_spark.pinning import pin
from dask_obj_spark.queries import query
from dask_obj_spark.sources import load_table


def _duck_with(ctes: list[str], select: str, recursive: bool = False) -> str:
    """One oracle statement: the bare ``name AS (…)`` CTE entries of
    ``ctes`` (what every ``_duck_*`` fragment helper returns) joined
    into one WITH list, then ``select``."""
    head = "WITH RECURSIVE " if recursive else "WITH "
    return head + ",\n    ".join(ctes) + "\n    " + select.strip() + "\n"


def _kmeans_quantized_oracle(
    k: int = 8, iters: int = 3, scale: int = KMQ_SCALE, dim: int = DIM
) -> str:
    """Unrolled quantized-Lloyd replay: init from the first k vids,
    then ``iters`` chained (assign → integer-sum update) rounds plus
    the final assignment — every CTE MATERIALIZED (the fixed-unroll
    iteration precedent).  All sums are exact integers (DuckDB HUGEINT
    cast back to BIGINT); the one division per (vector, cell) is the
    same correctly-rounded IEEE op Spark performs."""
    sum_arms = ", ".join(
        f"CAST(sum(xq[{d + 1}]) AS BIGINT) AS s{d + 1}" for d in range(dim)
    )
    s_list = "[" + ", ".join(f"u.s{d + 1}" for d in range(dim)) + "]"

    def assign_cte(name: str, cents: str) -> str:
        return f"""{name} AS MATERIALIZED (
      SELECT vid, xq, cell FROM (
        SELECT b.vid, b.xq, c.cell,
               row_number() OVER (
                 PARTITION BY b.vid
                 ORDER BY CAST(list_sum(list_transform(generate_series(1, {dim}),
                            i -> (b.xq[i] * c.n - c.s[i]) * (b.xq[i] * c.n - c.s[i])))
                          AS DOUBLE) / CAST(c.n * c.n AS DOUBLE) ASC,
                          c.cell ASC) AS rn
        FROM base b CROSS JOIN {cents} c
      ) WHERE rn = 1
    )"""

    def update_cte(name: str, prev_c: str, prev_a: str) -> str:
        return f"""{name} AS MATERIALIZED (
      SELECT p.cell,
             CASE WHEN u.n IS NULL THEN p.s ELSE {s_list} END AS s,
             coalesce(u.n, p.n) AS n
      FROM {prev_c} p LEFT JOIN (
        SELECT cell, count(*)::BIGINT AS n, {sum_arms}
        FROM {prev_a} GROUP BY cell
      ) u ON p.cell = u.cell
    )"""

    ctes = [
        f"""base AS MATERIALIZED (
      SELECT vec_id AS vid,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(floor(x * {scale}.0) AS BIGINT)) AS xq
      FROM embeddings
    ),
    c0 AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY vid) - 1 AS cell, xq AS s,
             CAST(1 AS BIGINT) AS n
      FROM base ORDER BY vid LIMIT {k}
    )""",
        assign_cte("a0", "c0"),
    ]
    for it in range(1, iters + 1):
        ctes.append(update_cte(f"c{it}", f"c{it - 1}", f"a{it - 1}"))
        ctes.append(assign_cte(f"a{it}", f"c{it}"))
    return _duck_with(ctes, f"SELECT vid, CAST(cell AS BIGINT) AS cell FROM a{iters}")


@query("sim_kmeans_cells_exact", oracle=_kmeans_quantized_oracle())
def sim_kmeans_cells_exact_q(spark, sf_dir):
    """Quantized Lloyd's k-means (k=8, 3 iterations, deterministic
    first-k init), full (vid, cell) assignment — the oracle-paired
    companion for the iterative-algorithm category (r9 verdict #5
    family): integer centroid state makes every round's argmin
    bit-replayable, so the DuckDB oracle re-runs the ENTIRE training
    loop as unrolled MATERIALIZED CTEs and a wrong update order,
    dropped empty-cell fallback, or argmin tie bug becomes a hash
    mismatch."""
    emb = load_table(spark, sf_dir, "embeddings")
    _, assigned = kmeans_fit_quantized(emb, "vec_id", "embedding")
    return assigned.select("vid", F.col("cell").cast("bigint").alias("cell"))


def _duck_base(probe_mod: int | None = None, materialized: bool = False) -> str:
    """``base(vid, v)``: every embedding as DOUBLE[]; with ``probe_mod``,
    also ``probes(pid, pv)``, the vectors with ``vid % probe_mod = 0``."""
    mat = " MATERIALIZED" if materialized else ""
    base = f"""base AS{mat} (
      SELECT vec_id AS vid, embedding::DOUBLE[] AS v FROM embeddings
    )"""
    if probe_mod is None:
        return base
    return base + f""", probes AS (
      SELECT vid AS pid, v AS pv FROM base WHERE vid % {probe_mod} = 0
    )"""


def _duck_ivf_cells(
    mod: int, dim: int, probe_mod: int | None = None, materialized: bool = False
) -> str:
    """The IVF cell-assignment CTEs over ``base(vid, v)``: ``cents``
    (the vectors with ``vid % mod = 1`` are the centroids),
    ``assign``/``ranked_assign`` (each vector's centroids by cosine, ties
    to the lower id) and ``cells(vid, v, cid)`` (its nearest one).  With
    ``probe_mod``, also ``pcells(pid, pv, cid)`` — the NPROBE nearest
    cells of every probe — and ``cand(pid, pv, vid, v)``, the vectors
    sharing a probed cell.  ``materialized`` pins ``cells`` and
    ``pcells`` for oracles that reuse them."""
    mat = " MATERIALIZED" if materialized else ""
    ctes = f"""cents AS (
      SELECT vid AS cid, v AS cv FROM base WHERE vid % {mod} = 1
    ), assign AS (
      SELECT b.vid, b.v, c.cid,
             {cosine_sql("b.v", "c.cv", dim, DUCK)} AS cs
      FROM base b, cents c
    ), ranked_assign AS (
      SELECT vid, v, cid, cs,
             row_number() OVER (PARTITION BY vid ORDER BY cs DESC, cid) AS rn
      FROM assign
    ), cells AS{mat} (
      SELECT vid, v, cid FROM ranked_assign WHERE rn = 1
    )"""
    if probe_mod is None:
        return ctes
    return ctes + f""", pcells AS{mat} (
      SELECT vid AS pid, v AS pv, cid
      FROM ranked_assign WHERE rn <= {NPROBE} AND vid % {probe_mod} = 0
    ), cand AS (
      SELECT DISTINCT p.pid, p.pv, c.vid, c.v
      FROM pcells p JOIN cells c ON p.cid = c.cid AND p.pid <> c.vid
    )"""


def _duck_lsh_cand(probe_mod: int) -> str:
    """Hyperplane-LSH candidates over ``base(vid, v)``: ``bits`` and
    ``keyed`` put each vector in two buckets (its low and high NBITS/2
    sign bits), and ``cand(pid, pv, vid, v)`` pairs each ``vid %
    probe_mod = 0`` probe with every other vector sharing a bucket."""
    half = NBITS // 2
    bit_exprs = []
    for bi, plane in enumerate(HYPERPLANES):
        d = dot_sql("v", plane, DIM, DUCK)
        bit_exprs.append(f"CASE WHEN {d} >= 0 THEN 1 ELSE 0 END AS b{bi}")
    lo = " + ".join(f"b{i} * {2 ** (half - 1 - i)}" for i in range(half))
    hi = " + ".join(f"b{half + i} * {2 ** (half - 1 - i)}" for i in range(half))
    return f"""bits AS (
      SELECT vid, v, {", ".join(bit_exprs)} FROM base
    ), keyed AS (
      SELECT vid, v, 'l' || ({lo}) AS bucket FROM bits
      UNION ALL
      SELECT vid, v, 'h' || ({hi}) AS bucket FROM bits
    ), cand AS (
      SELECT DISTINCT p.pid, p.pv, c.vid, c.v
      FROM keyed c JOIN (
        SELECT k.vid AS pid, k.v AS pv, k.bucket FROM keyed k
        WHERE k.vid % {probe_mod} = 0
      ) p ON c.bucket = p.bucket AND p.pid <> c.vid
    )"""


def _duck_ranked(src: str = "base JOIN probes ON pid <> vid", prefix: str = "") -> str:
    """``{prefix}scored(id1, id2, cos_raw)``, the raw cosine of each
    ``(pid, pv, vid, v)`` row of ``src`` (by default every probe against
    every other vector), and ``{prefix}ranked``, which adds each probe's
    ``rank`` by cosine, ties to the lower id2."""
    return f"""{prefix}scored AS (
      SELECT pid AS id1, vid AS id2, {cosine_sql("pv", "v", DIM, DUCK)} AS cos_raw
      FROM {src}
    ), {prefix}ranked AS (
      SELECT id1, id2, cos_raw,
             row_number() OVER (PARTITION BY id1 ORDER BY cos_raw DESC, id2) AS rank
      FROM {prefix}scored
    )"""


def _duck_topk_select(k: int) -> str:
    """The top-k tail over ``ranked``: rounded cosine and rank."""
    return f"""
    SELECT id1, id2, round(cos_raw, 6) AS cosine, rank
    FROM ranked WHERE rank <= {k}
    """


def _duck_knn_edges(ranked: str, k: int) -> str:
    """The undirected graph of the top ``k`` of a ranked relation:
    ``knn(u, v)`` holds each edge once with u < v, ``ed(u, v)`` both
    directions."""
    return f"""knn AS MATERIALIZED (
      SELECT DISTINCT least(id1, id2) AS u, greatest(id1, id2) AS v
      FROM {ranked} WHERE rank <= {k}
    ), ed AS MATERIALIZED (
      SELECT u, v FROM knn UNION ALL SELECT v, u FROM knn
    )"""


def _duck_recall_hits(name: str, approx: str) -> str:
    """``{name}(id1, hits)``: per probe of ``truth(id1, id2)``, how many
    of its pairs ``approx`` also holds (0 when none)."""
    return f"""{name} AS (
      SELECT t.id1, count(a.id2) AS hits
      FROM truth t LEFT JOIN {approx} a ON t.id1 = a.id1 AND t.id2 = a.id2
      GROUP BY t.id1
    )"""


@query(
    "sim_cosine_topk_brute",
    oracle=_duck_with([_duck_base(50), _duck_ranked()], _duck_topk_select(10)),
)
def sim_cosine_topk_brute_q(spark, sf_dir):
    """Exact cosine top-10 neighbors for 1-in-50 probe vectors
    (BASELINE.md B7)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk_brute(emb, "vec_id", "embedding", probe_mod=50, k=10)


@query(
    "sim_cosine_topk_lsh",
    oracle=_duck_with(
        [_duck_base(50), _duck_lsh_cand(50), _duck_ranked("cand")], _duck_topk_select(10)
    ),
)
def sim_cosine_topk_lsh_q(spark, sf_dir):
    """Hyperplane-LSH ANN top-10 — the 100 TB scale path, oracle-checked
    exactly (deterministic hyperplanes embedded in both engines)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk_lsh(emb, "vec_id", "embedding", probe_mod=50, k=10)


@query("sim_kmeans_cells_rowsonly")
def sim_kmeans_cells_q(spark, sf_dir):
    """Mini k-means cell assignment (3 Lloyd iterations, deterministic
    init) — rows-only: iterative algorithms are outside single-statement
    SQL; convergence/determinism are unit-tested."""
    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_assign(emb, "vec_id", "embedding", k=8, iters=3)


@query("sim_cosine_topk_numpy_rowsonly")
def sim_cosine_topk_numpy_q(spark, sf_dir):
    """Vectorized (BLAS matmul) brute-force top-10 — rows-only because
    numpy's pairwise summation orders floats differently from the
    SQL-expressible left fold; pair-set parity with the exact variant is
    asserted in tests/test_dedup.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk_brute_numpy(emb, "vec_id", "embedding", probe_mod=50, k=10)


@query(
    "sim_cosine_topk_ivf",
    oracle=_duck_with(
        [
            _duck_base(50),
            _duck_ivf_cells(CENTROID_MOD, DIM, probe_mod=50),
            _duck_ranked("cand"),
        ],
        _duck_topk_select(10),
    ),
)
def sim_cosine_topk_ivf_q(spark, sf_dir):
    """IVF ANN top-10 (deterministic coarse centroids, nprobe=2) — the
    second scale path next to hyperplane LSH, oracle-checked exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_topk_ivf(emb, "vec_id", "embedding", probe_mod=50, k=10)


def _duck_ivf_knn_ctes(probe_mod: int) -> list[str]:
    """The oracle replay of `knn_graph_ann`'s candidates: ``ranked``
    over the IVF cells (deterministic centroids, nprobe cells, exact
    re-rank) of every ``vid % probe_mod = 0`` probe."""
    return [
        _duck_base(probe_mod),
        _duck_ivf_cells(CENTROID_MOD, DIM, probe_mod, materialized=True),
        _duck_ranked("cand"),
    ]


@query(
    "graph_knn_ann_edges",
    oracle=_duck_with(
        _duck_ivf_knn_ctes(5),
        """
    SELECT id1, id2, CAST(floor(cos_raw * 1000000) AS BIGINT) AS cosine_x1m, rank
    FROM ranked WHERE rank <= 10
    """,
    ),
)
def graph_knn_ann_edges_q(spark, sf_dir):
    """The ANN kNN-GRAPH builder, oracle-checked exactly: every 1-in-5
    vertex gets its top-10 neighbors from IVF candidates (nprobe=2
    cells, plain cell equi-join — no probe broadcast, because here the
    probe side IS the corpus) with exact cosine re-rank.  This is the
    edge list the graph family consumes at 100 TB in place of the
    brute-force builder (BASELINE.md §5 b25 caveat).  Scores are
    floor-quantized to integer micro-units on the bit-identical raw
    double (the repo's standing rule — round()'s tie semantics differ
    across engines).  Centroids here are the modular oracle-replay set
    (explicit ``centroid_mod``); the library DEFAULT trains constant-k
    k-means."""
    emb = load_table(spark, sf_dir, "embeddings")
    knn = knn_graph_ann(
        emb, "vec_id", "embedding", k=10, probe_mod=5,
        centroid_mod=CENTROID_MOD, nprobe=NPROBE, raw=True,
    )
    return knn.select(
        "id1",
        "id2",
        F.floor(F.col("cos_raw") * 1000000).cast("long").alias("cosine_x1m"),
        "rank",
    )


def _duck_knn_bfs(
    ctes: list[str], rounds: int, step: str = "1", out_col: str = "dist"
) -> str:
    """Unrolled min-merge BFS oracle over a kNN graph.  ``ctes`` are the
    WITH entries ending in the edge list ``ed(u, v[, w])`` and the seed
    distances ``d0(id, dist)``; round r keeps each vertex's least
    distance over ``d{r-1}`` and every neighbour's ``dist + step``
    (equivalent to the frontier form: BFS first touches a vertex at its
    minimum hop).  Every ``base`` vertex is reported, unreached = -1."""
    ctes = list(ctes)
    for r in range(1, rounds + 1):
        ctes.append(f"""d{r} AS MATERIALIZED (
      SELECT id, min(dist) AS dist FROM (
        SELECT id, dist FROM d{r-1}
        UNION ALL
        SELECT e.v AS id, d.dist + {step} AS dist
        FROM ed e JOIN d{r-1} d ON d.id = e.u
      ) GROUP BY id
    )""")
    return _duck_with(
        ctes,
        f"""
    SELECT b.vid AS id, CAST(coalesce(d.dist, -1) AS BIGINT) AS {out_col}
    FROM base b LEFT JOIN d{rounds} d ON d.id = b.vid
    """,
    )


def _duck_hop_bfs(ctes: list[str], k: int, rounds: int, seed_mod: int) -> str:
    """Hop-count BFS from the ``vec_id % seed_mod = 0`` seeds over the
    undirected top-``k`` graph of ``ranked``, a relation of ``ctes``."""
    return _duck_knn_bfs(
        ctes
        + [
            _duck_knn_edges("ranked", k),
            f"""d0 AS MATERIALIZED (
      SELECT vec_id AS id, 0 AS dist FROM embeddings WHERE vec_id % {seed_mod} = 0
    )""",
        ],
        rounds,
    )


def _duck_bfs_ann_oracle(rounds: int, probe_mod: int, k: int, seed_mod: int) -> str:
    """BFS over the IVF-built kNN graph (`_duck_ivf_knn_ctes`)."""
    return _duck_hop_bfs(_duck_ivf_knn_ctes(probe_mod), k, rounds, seed_mod)


@query("graph_bfs_ann", oracle=_duck_bfs_ann_oracle(4, 5, 10, 50))
def graph_bfs_ann_q(spark, sf_dir):
    """Frontier BFS over the ANN-BUILT kNN graph (same seeds, hops and
    probe set as graph_bfs_hops, but edges from `knn_graph_ann` instead
    of brute-force scoring) — certifying the library's production graph
    path end-to-end: IVF candidate generation, exact re-rank, and the
    frontier iteration all hash-match the unrolled oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    knn = knn_graph_ann(
        emb, "vec_id", "embedding", k=10, probe_mod=5,
        centroid_mod=CENTROID_MOD, nprobe=NPROBE,
    )
    edges = knn.select(
        F.least("id1", "id2").alias("u"), F.greatest("id1", "id2").alias("v")
    ).distinct()
    vertices = emb.select(F.col("vec_id").alias("id"))
    seeds = emb.filter(F.col("vec_id") % 50 == 0).select(F.col("vec_id").alias("id"))
    return bfs_hops(vertices, edges, seeds, rounds=4)


@query(
    "sim_ivf_recall",
    oracle=_duck_with(
        [
            _duck_base(50),
            _duck_ranked(prefix="t_"),
            "truth AS (SELECT id1, id2 FROM t_ranked WHERE rank <= 10)",
            _duck_ivf_cells(CENTROID_MOD, DIM, probe_mod=50),
            _duck_ranked("cand", "a_"),
            "approx AS (SELECT id1, id2 FROM a_ranked WHERE rank <= 10)",
            _duck_recall_hits("hits", "approx"),
        ],
        "SELECT id1 AS probe_id, round(hits / 10.0, 6) AS recall FROM hits",
    ),
)
def sim_ivf_recall_q(spark, sf_dir):
    """Recall@10 of the IVF index against exact brute-force ground truth,
    per probe — oracle-checked end-to-end (both sides replayed in SQL)."""
    emb = load_table(spark, sf_dir, "embeddings")
    truth = cosine_topk_brute(emb, "vec_id", "embedding", probe_mod=50, k=10)
    approx = cosine_topk_ivf(emb, "vec_id", "embedding", probe_mod=50, k=10)
    return ann_recall(truth, approx, 10)


@query(
    "sim_norms",
    oracle=_duck_with(
        [_duck_base()], f"SELECT vid, round({norm_sql('v', DIM, DUCK)}, 6) AS l2 FROM base"
    ),
)
def sim_norms_q(spark, sf_dir):
    """Per-vector L2 norm — the kernel primitive, oracle-checked over
    every row (validates the fold/association contract end-to-end)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        F.col("vec_id").alias("vid"),
        F.round(l2_norm(F.col("embedding").cast("array<double>")), 6).alias("l2"),
    )


# degree-ordered triangle census of the 1-in-50-probe top-10 graph:
# ``deg(v, d)``, each edge oriented low → high (degree, then id) and the
# triangles ``tri(u, y, z)``
_DUCK_TRI_CTES = [
    _duck_base(50),
    _duck_ranked(),
    _duck_knn_edges("ranked", 10),
    """deg AS (
      SELECT u AS v, count(*) AS d FROM ed GROUP BY u
    ), orient AS (
      SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND k.u < k.v)
                  THEN k.u ELSE k.v END AS u,
             CASE WHEN (da.d < db.d) OR (da.d = db.d AND k.u < k.v)
                  THEN k.v ELSE k.u END AS w,
             CASE WHEN (da.d < db.d) OR (da.d = db.d AND k.u < k.v)
                  THEN db.d ELSE da.d END AS dw
      FROM knn k JOIN deg da ON da.v = k.u JOIN deg db ON db.v = k.v
    ), wedges AS (
      SELECT e1.u, e1.w AS y, e2.w AS z
      FROM orient e1 JOIN orient e2 ON e2.u = e1.u
      WHERE (e1.dw < e2.dw) OR (e1.dw = e2.dw AND e1.w < e2.w)
    ), tri AS (
      SELECT wd.u, wd.y, wd.z
      FROM wedges wd JOIN orient c ON c.u = wd.y AND c.w = wd.z
    )""",
]


@query(
    "sim_knn_triangles",
    oracle=_duck_with(
        _DUCK_TRI_CTES,
        """
    SELECT v, CAST(count(*) AS BIGINT) AS n_tri
    FROM (
      SELECT u AS v FROM tri
      UNION ALL SELECT y AS v FROM tri
      UNION ALL SELECT z AS v FROM tri
    ) GROUP BY v
    """,
    ),
)
def sim_knn_triangles_q(spark, sf_dir):
    """kNN-graph triangle census: exact cosine top-10 edges for the
    probe set, symmetrized, then degree-ordered triangle counting —
    the cluster-density signal over the similarity graph."""
    from dask_obj_spark.operators.corpus import triangle_counts

    emb = load_table(spark, sf_dir, "embeddings")
    knn = cosine_topk_brute(emb, "vec_id", "embedding", probe_mod=50, k=10)
    return triangle_counts(knn.select("id1", "id2"), "id1", "id2")


def _duck_pca_oracle(rounds: int, dim: int) -> str:
    ctes = [
        f"""mat AS MATERIALIZED (
      SELECT vec_id AS vid,
             generate_subscripts(embedding::DOUBLE[], 1) - 1 AS i,
             unnest(embedding::DOUBLE[]) AS x
      FROM embeddings
    ), v0 AS (
      SELECT i, 1.0 / sqrt({dim}.0) AS c FROM range({dim}) t(i)
    )"""
    ]
    for t in range(1, rounds + 1):
        # AS MATERIALIZED: DuckDB inlines CTEs by default, so chained
        # rounds would nest exponentially without it
        ctes.append(f"""s{t} AS MATERIALIZED (
      SELECT m.vid, sum(m.x * v.c) AS s
      FROM mat m JOIN v{t-1} v ON v.i = m.i GROUP BY m.vid
    ), w{t} AS MATERIALIZED (
      SELECT m.i, sum(s.s * m.x) AS w
      FROM mat m JOIN s{t} s ON s.vid = m.vid GROUP BY m.i
    ), n{t} AS MATERIALIZED (
      SELECT sqrt(sum(w * w)) AS n FROM w{t}
    ), v{t} AS MATERIALIZED (
      SELECT i, w / (SELECT n FROM n{t}) AS c FROM w{t}
    )""")
    last = f"v{rounds}"
    ctes.append(f"""sgn AS (
      SELECT CASE WHEN c < 0 THEN -1.0 ELSE 1.0 END AS sgn
      FROM {last} ORDER BY abs(c) DESC, i LIMIT 1
    )""")
    return _duck_with(
        ctes, f"SELECT i, round(c * sgn, 6) AS loading FROM {last} CROSS JOIN sgn"
    )


@query("sim_pca_power", oracle=_duck_pca_oracle(8, DIM))
def sim_pca_power_q(spark, sf_dir):
    """Top principal direction of the embedding corpus — 8 rounds of
    distributed power iteration, hash-matched against the identical
    unrolled iteration in SQL."""
    emb = load_table(spark, sf_dir, "embeddings")
    return pca_power_top_component(emb, "vec_id", "embedding", rounds=8)


def _duck_pca_topk_oracle(n_components: int, rounds: int, dim: int) -> str:
    """Unrolled deflated power iteration — per component c and round t:
    scores s_ct, back-projection w_ct, one Gram-Schmidt subtraction per
    prior component, norm, normalized v_ct.  AS MATERIALIZED throughout
    (DuckDB inlines CTEs; chained rounds nest exponentially otherwise)."""
    ctes = [
        f"""mat AS MATERIALIZED (
      SELECT vec_id AS vid,
             generate_subscripts(embedding::DOUBLE[], 1) - 1 AS i,
             unnest(embedding::DOUBLE[]) AS x
      FROM embeddings
    ), mu AS MATERIALIZED (
      SELECT i, avg(x) AS mu FROM mat GROUP BY i
    ), cmat AS MATERIALIZED (
      SELECT m.vid, m.i, m.x - mu.mu AS x FROM mat m JOIN mu ON mu.i = m.i
    )"""
    ]
    finals = []
    for c in range(n_components):
        ctes.append(f"""v{c}_0 AS (
      SELECT i, 1.0 / sqrt({dim}.0) AS c FROM range({dim}) t(i)
    )""")
        for t in range(1, rounds + 1):
            ctes.append(f"""s{c}_{t} AS MATERIALIZED (
      SELECT m.vid, sum(m.x * v.c) AS s
      FROM cmat m JOIN v{c}_{t-1} v ON v.i = m.i GROUP BY m.vid
    ), w{c}_{t}_0 AS MATERIALIZED (
      SELECT m.i, sum(s.s * m.x) AS w
      FROM cmat m JOIN s{c}_{t} s ON s.vid = m.vid GROUP BY m.i
    )""")
            for j in range(c):
                ctes.append(f"""d{c}_{t}_{j} AS MATERIALIZED (
      SELECT sum(w.w * u.u) AS d
      FROM w{c}_{t}_{j} w JOIN u{j} u ON u.i = w.i
    ), w{c}_{t}_{j+1} AS MATERIALIZED (
      SELECT w.i, w.w - (SELECT d FROM d{c}_{t}_{j}) * u.u AS w
      FROM w{c}_{t}_{j} w JOIN u{j} u ON u.i = w.i
    )""")
            ctes.append(f"""n{c}_{t} AS MATERIALIZED (
      SELECT sqrt(sum(w * w)) AS n FROM w{c}_{t}_{c}
    ), v{c}_{t} AS MATERIALIZED (
      SELECT i, w / (SELECT n FROM n{c}_{t}) AS c FROM w{c}_{t}_{c}
    )""")
        ctes.append(f"""u{c} AS MATERIALIZED (
      SELECT i, c AS u FROM v{c}_{rounds}
    ), sgn{c} AS (
      SELECT CASE WHEN u < 0 THEN -1.0 ELSE 1.0 END AS sgn
      FROM u{c} ORDER BY abs(u) DESC, i LIMIT 1
    )""")
        finals.append(
            f"SELECT CAST({c} AS INT) AS comp, i, round(u * sgn, 6) AS loading"
            f" FROM u{c} CROSS JOIN sgn{c}"
        )
    return _duck_with(ctes, "\n    UNION ALL\n    ".join(finals))


@query("sim_pca_topk", oracle=_duck_pca_topk_oracle(2, 4, DIM))
def sim_pca_topk_q(spark, sf_dir):
    """Top-2 mean-centered principal components by deflated power
    iteration (4 rounds each), hash-matched against the identical
    unrolled iteration in SQL."""
    emb = load_table(spark, sf_dir, "embeddings")
    return pca_top_components(emb, "vec_id", "embedding", n_components=2, rounds=4)


@query(
    "sim_standardize_dims",
    oracle="""
    WITH m AS (
      SELECT vec_id, generate_subscripts(embedding::DOUBLE[], 1) - 1 AS i,
             unnest(embedding::DOUBLE[]) AS x
      FROM embeddings
    ), stats AS (
      SELECT i, avg(x) AS mu, stddev_pop(x) AS sd FROM m GROUP BY i
    )
    SELECT m.vec_id, m.i, round((m.x - s.mu) / s.sd, 6) AS z
    FROM m JOIN stats s ON s.i = m.i
    """,
)
def sim_standardize_dims_q(spark, sf_dir):
    """Per-dimension z-score standardization of the embedding corpus
    (feature preprocessing for distance-based ML): one explode, one
    64-row stats aggregate broadcast back onto the stream.  The
    shuffle carries per-dim partial moments, never vectors — the
    corpus-side join is broadcast, so the operator runs at scan
    bandwidth at any corpus size."""
    emb = load_table(spark, sf_dir, "embeddings")
    m = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "x"),
    )
    stats = m.groupBy("i").agg(
        F.avg("x").alias("mu"), F.stddev_pop("x").alias("sd")
    )
    return m.join(F.broadcast(stats), "i").select(
        "vec_id", "i", F.round((F.col("x") - F.col("mu")) / F.col("sd"), 6).alias("z")
    )


def _duck_lpa_oracle(rounds: int, probe_mod: int, k: int) -> str:
    ctes = [
        _duck_base(probe_mod),
        _duck_ranked(),
        _duck_knn_edges("ranked", k),
        """lab0 AS MATERIALIZED (
      SELECT vec_id AS id,
             CASE WHEN vec_id % 5 = 0 THEN label END AS lab,
             CASE WHEN vec_id % 5 = 0 THEN 1 ELSE 0 END AS seed
      FROM embeddings
    )""",
    ]
    for r in range(1, rounds + 1):
        ctes.append(f"""nb{r} AS MATERIALIZED (
      SELECT e.v AS id, l.lab, count(*) AS c
      FROM ed e JOIN lab{r-1} l ON l.id = e.u
      WHERE l.lab IS NOT NULL GROUP BY e.v, l.lab
    ), bst{r} AS MATERIALIZED (
      SELECT id, lab FROM (
        SELECT id, lab,
               row_number() OVER (PARTITION BY id ORDER BY c DESC, lab) AS rn
        FROM nb{r}
      ) WHERE rn = 1
    ), lab{r} AS MATERIALIZED (
      SELECT l.id,
             CASE WHEN l.seed = 1 THEN l.lab
                  ELSE coalesce(b.lab, l.lab) END AS lab,
             l.seed
      FROM lab{r-1} l LEFT JOIN bst{r} b ON b.id = l.id
    )""")
    # lab is NULL for never-reached vertices; coalesce to -1 and cast so
    # neither client renders the column as nullable-int-promoted float
    return _duck_with(
        ctes, f"SELECT id, CAST(coalesce(lab, -1) AS BIGINT) AS lab FROM lab{rounds}"
    )


@query("sim_label_propagation", oracle=_duck_lpa_oracle(3, 5, 10))
def sim_label_propagation_q(spark, sf_dir):
    """3 rounds of label propagation over the 1-in-5-probe kNN graph,
    seeds = every 5th vector clamped to its true label — each round
    hash-matched against the unrolled materialized-CTE oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    knn = cosine_topk_brute(emb, "vec_id", "embedding", probe_mod=5, k=10)
    edges = (
        knn.select(
            F.least("id1", "id2").alias("u"), F.greatest("id1", "id2").alias("v")
        )
        .distinct()
    )
    seeds = emb.select(
        F.col("vec_id").alias("id"),
        F.when(F.col("vec_id") % 5 == 0, F.col("label")).alias("lab"),
        (F.col("vec_id") % 5 == 0).cast("int").alias("seed"),
    )
    return label_propagation(edges, seeds, rounds=3)


def _duck_kcore_oracle(k: int, rounds: int, probe_mod: int, topk: int) -> str:
    """Unrolled peeling over the undirected kNN graph: round r keeps the
    edges of ``e{r-1}`` (``e0`` = ``knn``) whose ends both have degree
    >= k in it."""
    ctes = [_duck_base(probe_mod), _duck_ranked(), _duck_knn_edges("ranked", topk)]
    e = ["knn"] + [f"e{r}" for r in range(1, rounds + 1)]
    for r in range(1, rounds + 1):
        ctes.append(f"""sym{r} AS MATERIALIZED (
      SELECT u, v FROM {e[r-1]} UNION ALL SELECT v, u FROM {e[r-1]}
    ), keep{r} AS MATERIALIZED (
      SELECT u FROM sym{r} GROUP BY u HAVING count(*) >= {k}
    ), e{r} AS MATERIALIZED (
      SELECT e.u, e.v FROM {e[r-1]} e
      JOIN keep{r} ka ON ka.u = e.u
      JOIN keep{r} kb ON kb.u = e.v
    )""")
    ctes.append(f"symf AS (SELECT u, v FROM e{rounds} UNION ALL SELECT v, u FROM e{rounds})")
    return _duck_with(ctes, "SELECT u AS id, count(*) AS degree FROM symf GROUP BY u")


@query("sim_knn_kcore", oracle=_duck_kcore_oracle(3, 8, 5, 10))
def sim_knn_kcore_q(spark, sf_dir):
    """3-core of the 1-in-5-probe kNN graph after 8 peel rounds —
    the dense-community filter, hash-matched against the unrolled
    peeling oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    knn = cosine_topk_brute(emb, "vec_id", "embedding", probe_mod=5, k=10)
    edges = knn.select(
        F.least("id1", "id2").alias("u"), F.greatest("id1", "id2").alias("v")
    ).distinct()
    return k_core(edges, k=3, rounds=8)


def _duck_bfs_oracle(rounds: int, probe_mod: int, topk: int, seed_mod: int) -> str:
    """BFS over the brute-force kNN graph."""
    return _duck_hop_bfs([_duck_base(probe_mod), _duck_ranked()], topk, rounds, seed_mod)


@query("graph_bfs_hops", oracle=_duck_bfs_oracle(4, 5, 10, 50))
def graph_bfs_hops_q(spark, sf_dir):
    """Hop distance from the 1-in-50 seed set over the 1-in-5-probe kNN
    graph, 4 hops deep (unreached = -1) — frontier BFS hash-matched
    against the unrolled min-merge oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    knn = cosine_topk_brute(emb, "vec_id", "embedding", probe_mod=5, k=10)
    edges = knn.select(
        F.least("id1", "id2").alias("u"), F.greatest("id1", "id2").alias("v")
    ).distinct()
    vertices = emb.select(F.col("vec_id").alias("id"))
    seeds = emb.filter(F.col("vec_id") % 50 == 0).select(F.col("vec_id").alias("id"))
    return bfs_hops(vertices, edges, seeds, rounds=4)


def _duck_sssp_oracle(rounds: int, probe_mod: int, topk: int, seed_mod: int) -> str:
    """Unrolled Bellman-Ford oracle over the micro-unit-weighted kNN
    graph: per round, min-merge of the previous distance table with
    every neighbor's dist + edge weight.  Weights floor-quantize the
    RAW cosine ((1 - cos) · 1e6 → BIGINT) — floor on the bit-identical
    double agrees across engines where round()'s tie handling would
    not, and integer path sums are exact."""
    ctes = [
        _duck_base(probe_mod),
        _duck_ranked(),
        f"""knnw AS MATERIALIZED (
      SELECT least(id1, id2) AS u, greatest(id1, id2) AS v,
             CAST(floor((1.0 - cos_raw) * 1000000) AS BIGINT) AS w
      FROM ranked WHERE rank <= {topk} AND id1 <> id2
    ), ew AS MATERIALIZED (
      SELECT u, v, min(w) AS w FROM knnw GROUP BY u, v
    ), ed AS MATERIALIZED (
      SELECT u, v, w FROM ew UNION ALL SELECT v, u, w FROM ew
    ), d0 AS MATERIALIZED (
      SELECT vec_id AS id, CAST(0 AS BIGINT) AS dist FROM embeddings
      WHERE vec_id % {seed_mod} = 0
    )""",
    ]
    return _duck_knn_bfs(ctes, rounds, step="e.w", out_col="dist_micro")


@query("graph_weighted_sssp", oracle=_duck_sssp_oracle(4, 5, 10, 50))
def graph_weighted_sssp_q(spark, sf_dir):
    """Cheapest cosine-distance path from the 1-in-50 seed set over the
    1-in-5-probe kNN graph, 4 relaxation rounds, weights in integer
    micro-units of (1 - cosine) — Bellman-Ford hash-matched against
    the unrolled min-merge oracle (unreached = -1)."""
    emb = load_table(spark, sf_dir, "embeddings")
    ranked = cosine_ranked_raw(emb, "vec_id", "embedding", probe_mod=5)
    edges = (
        ranked.filter((F.col("rank") <= 10) & (F.col("id1") != F.col("id2")))
        .select(
            F.least("id1", "id2").alias("u"),
            F.greatest("id1", "id2").alias("v"),
            F.floor((F.lit(1.0) - F.col("cos_raw")) * 1000000)
            .cast("long")
            .alias("w"),
        )
        .groupBy("u", "v")
        .agg(F.min("w").alias("w"))
    )
    vertices = emb.select(F.col("vec_id").alias("id"))
    seeds = emb.filter(F.col("vec_id") % 50 == 0).select(F.col("vec_id").alias("id"))
    return weighted_sssp(vertices, edges, seeds, rounds=4)


def _duck_pq_enc(src: str, m: int, mod: int, dim: int) -> str:
    """PQ encode of every ``src(vid, v)`` row against the modular
    codewords ``cw(cid, cv)`` (the ``src`` vectors with ``vid % mod = 1``
    below PQ_CB_CAP): per subspace, ``pq_d`` holds the identical
    left-assoc squared-distance chain to every codeword and ``pq_a`` its
    argmin by (dist, cid); ``enc(vid, code0…, err)`` pivots the m codes
    and adds the m distances with explicit left-assoc addition — every
    float op replayed in Spark's evaluation order."""
    sub = _pq_sub(dim, m)
    arms = []
    for s in range(m):
        dist = sqdist_sql("b.v", "c.cv", sub, DUCK, lo=s * sub + 1)
        arms.append(
            f"SELECT b.vid, {s} AS s, c.cid, {dist} AS dist FROM {src} b CROSS JOIN cw c"
        )
    codes = ",\n             ".join(
        f"max(CASE WHEN s = {s} THEN cid END) AS code{s}" for s in range(m)
    )
    err = "max(CASE WHEN s = 0 THEN dist END)"
    for s in range(1, m):
        err = f"({err} + max(CASE WHEN s = {s} THEN dist END))"
    return f"""cw AS (
      SELECT vid AS cid, v AS cv FROM {src}
      WHERE vid % {mod} = 1 AND vid < {PQ_CB_CAP}
    ), pq_d AS (
      {" UNION ALL ".join(arms)}
    ), pq_a AS (
      SELECT vid, s, cid, dist,
             row_number() OVER (PARTITION BY vid, s ORDER BY dist, cid) AS rn
      FROM pq_d
    ), enc AS (
      SELECT vid, {codes},
             {err} AS err
      FROM pq_a WHERE rn = 1 GROUP BY vid
    )"""


def _duck_pq_oracle(m: int, mod: int, dim: int) -> str:
    codes = ", ".join(f"code{s}" for s in range(m))
    return _duck_with(
        [_duck_base(), _duck_pq_enc("base", m, mod, dim)],
        f"SELECT vid, {codes}, CAST(floor(err * 1000000) AS BIGINT) AS err_micro FROM enc",
    )


@query("sim_pq_encode", oracle=_duck_pq_oracle(PQ_M, PQ_MOD, DIM))
def sim_pq_encode_q(spark, sf_dir):
    """Product-quantization encoding of the whole corpus: 4 subspaces
    of 16 dims, deterministic modular codebooks (subvectors of vids
    ≡ 1 mod 11 AND vid < PQ_CB_CAP — the IVF precedent, so the oracle
    replays the index exactly; production trains per-subspace k-means
    via pq_fit), each vector reduced to 4 codeword ids + its
    floor-quantized total reconstruction error.  The cap keeps the
    replayable model CONSTANT-SIZE at any SF (uncapped, encode work
    grew quadratically — 15.9× at 10× data, BASELINE.md §6; capped,
    2.0× — and the per-row argmin is now 47 codewords, light enough
    that the corpus side keeps its zero-exchange plan contract
    pinned in test_scale.py with no repartition fan-out)."""
    base = _vectors(load_table(spark, sf_dir, "embeddings"), "vec_id", "embedding")
    sub = _pq_sub(DIM, PQ_M)
    # the modular codeword set collapses to ONE row holding a sorted
    # struct array, broadcast onto the corpus — per-row HOF argmin per
    # subspace, so the corpus side never exchanges (the zero-shuffle
    # contract of the trained-books `_pq_codes`; the only aggregation in
    # the plan is the tiny codeword-side collect_list)
    cws = F.broadcast(
        base.filter((F.col("vid") % PQ_MOD == 1) & (F.col("vid") < PQ_CB_CAP))
        .select(F.struct(F.col("vid").alias("cid"), F.col("v").alias("cv")).alias("c"))
        .groupBy()
        .agg(F.array_sort(F.collect_list("c")).alias("cws"))
    )
    # NB: the transform lambda must take exactly ONE argument — pyspark
    # interprets a second parameter as the (element, index) form, so the
    # subspace offset is captured via this factory, not a default arg
    def _subspace_best(s: int):
        def _term(c):
            return F.struct(
                sqdist(
                    F.slice(F.col("v"), s * sub + 1, sub),
                    F.slice(c["cv"], s * sub + 1, sub),
                ).alias("dist"),
                c["cid"].alias("cid"),
            )

        return F.array_min(F.transform(F.col("cws"), _term)).alias(f"best{s}")

    bests = [_subspace_best(s) for s in range(PQ_M)]
    enc = base.join(cws).select("vid", *bests)
    err = F.col("best0").getField("dist")
    for s in range(1, PQ_M):
        err = err + F.col(f"best{s}").getField("dist")
    return enc.select(
        "vid",
        *[
            F.col(f"best{s}").getField("cid").alias(f"code{s}")
            for s in range(PQ_M)
        ],
        F.floor(err * 1000000).cast("long").alias("err_micro"),
    )


def _duck_pq_adc_ctes(m: int, mod: int, dim: int, probe_mod: int) -> str:
    """ADC CTEs over ``base(vid, v)``: encode the corpus
    (`_duck_pq_enc`), build each probe's subspace×codeword distance
    table, melt the codes, join, and recombine the m partial distances
    by PIVOTED max-case arms with explicit left-assoc addition — never
    sum() over an unordered group, whose float order differs across
    engines.  CTE names are pq_-prefixed so the chain composes with the
    exact-truth CTEs in the recall oracle.  Vectors are unit-normalized
    first (identical per-element division off the same sqrt-fold norm on
    both engines): euclidean ordering on the unit sphere IS cosine
    ordering, which is the target metric."""
    sub = _pq_sub(dim, m)
    probe_arms = []
    for s in range(m):
        pd = sqdist_sql("p.v", "c.cv", sub, DUCK, lo=s * sub + 1)
        probe_arms.append(
            f"SELECT p.vid AS pid, {s} AS s, c.cid, {pd} AS pd "
            f"FROM pq_probes p CROSS JOIN cw c"
        )
    melt = " UNION ALL ".join(
        f"SELECT vid, {s} AS s, code{s} AS code FROM enc" for s in range(m)
    )
    adc2 = "max(CASE WHEN pt.s = 0 THEN pd END)"
    for s in range(1, m):
        adc2 = f"({adc2} + max(CASE WHEN pt.s = {s} THEN pd END))"
    norm = norm_sql("v", dim, DUCK)
    return f"""pq_nbase AS (
      SELECT vid, list_transform(v, x -> x / {norm}) AS v FROM base
    ), pq_probes AS (
      SELECT vid, v FROM pq_nbase WHERE vid % {probe_mod} = 0
    ), {_duck_pq_enc("pq_nbase", m, mod, dim)}, melt AS (
      {melt}
    ), pq_pt AS (
      {" UNION ALL ".join(probe_arms)}
    ), pq_scored AS (
      SELECT pt.pid AS id1, melt.vid AS id2, {adc2} AS adc
      FROM melt JOIN pq_pt pt ON pt.s = melt.s AND pt.cid = melt.code
      WHERE pt.pid <> melt.vid
      GROUP BY pt.pid, melt.vid
    ), pq_ranked AS (
      SELECT id1, id2, adc,
             row_number() OVER (PARTITION BY id1 ORDER BY adc, id2) AS rank
      FROM pq_scored
    )"""


def _duck_pq_adc_oracle(m: int, mod: int, dim: int, probe_mod: int, k: int) -> str:
    return _duck_with(
        [_duck_base(), _duck_pq_adc_ctes(m, mod, dim, probe_mod)],
        f"""
    SELECT id1, id2, CAST(floor(adc * 1000000) AS BIGINT) AS adc_micro, rank
    FROM pq_ranked WHERE rank <= {k}
    """,
    )


@query("sim_pq_adc_topk", oracle=_duck_pq_adc_oracle(PQ_M, PQ_MOD, DIM, 50, 10))
def sim_pq_adc_topk_q(spark, sf_dir):
    """PQ asymmetric-distance top-10 for 1-in-50 probes — the
    compressed-index read path (Jégou et al.): the corpus is touched
    only through its 4 codeword ids, and each probe precomputes one
    subspace×codeword distance table (m·k entries, broadcast) that
    every candidate's approximate distance is assembled from by code
    lookup.

    Scale shape at 100 TB: the encoded corpus is m BIGINTs per vector
    (a standing dataset — pq_encode writes it once), probes never see
    raw corpus floats, and the per-candidate work is m element_at
    lookups into the probe's own m×k distance table + an explicit
    left-assoc m-term add (never an unordered float sum()) — the pair
    surface is projected narrow inside codegen, not shuffled.  Codebooks
    here are the deterministic modular ones (oracle replays the index);
    production swaps in pq_fit's k-means books unchanged.

    Broadcast-audit note (PLANS.md rule — hints only on
    constant-bounded sides): the modular codeword table grows with the
    corpus (N/11 rows), so its hint is justified only for this
    oracle-replayable variant at test/bench scale; the probe side
    carries no hint (AQE decides).  The production path is pq_fit's
    CONSTANT-k codebooks (k·d model floats) with probes arriving in
    bounded batches, where the broadcast is size-safe by
    construction."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        pq_adc_ranked(emb, "vec_id", "embedding", probe_mod=50)
        .filter(F.col("rank") <= 10)
        .select(
            "id1",
            "id2",
            F.floor(F.col("adc") * 1000000).cast("long").alias("adc_micro"),
            "rank",
        )
    )


@query(
    "sim_pq_recall",
    oracle=_duck_with(
        [
            _duck_base(50),
            _duck_ranked(prefix="t_"),
            "truth AS (SELECT id1, id2 FROM t_ranked WHERE rank <= 10)",
            _duck_pq_adc_ctes(PQ_M, PQ_MOD, DIM, 50),
            """approx AS (
      SELECT id1, id2 FROM pq_ranked WHERE rank <= 10
    ), shortlist AS (
      SELECT id1, id2 FROM pq_ranked WHERE rank <= 50
    ), re_cand AS (
      SELECT sl.id1 AS pid, p.v AS pv, sl.id2 AS vid, b.v AS v
      FROM shortlist sl
      JOIN base p ON p.vid = sl.id1
      JOIN base b ON b.vid = sl.id2
    )""",
            _duck_ranked("re_cand", "re_"),
            "rerank AS (SELECT id1, id2 FROM re_ranked WHERE rank <= 10)",
            _duck_recall_hits("r_adc", "approx"),
            _duck_recall_hits("r_rr", "rerank"),
        ],
        """
    SELECT a.id1 AS probe_id, round(a.hits / 10.0, 6) AS recall_adc,
           round(b.hits / 10.0, 6) AS recall_rerank
    FROM r_adc a JOIN r_rr b ON b.id1 = a.id1
    """,
    ),
)
def sim_pq_recall_q(spark, sf_dir):
    """Recall@10 of PQ-ADC against exact brute-force ground truth, per
    probe, in BOTH production flavors: raw ADC@10 (codes only — what
    16-bytes-per-vector compression alone buys) and the full IVF-PQ
    read pattern, ADC shortlist@50 → exact cosine re-rank → top-10
    (the shortlist touches raw floats for 50 candidates instead of the
    whole corpus).  Measured at sf0.01: raw ADC 0.19, re-ranked 0.41 —
    the tuning readout (m, k, shortlist width) every PQ deployment
    runs, next to sim_ivf_recall / sim_recall_curve_lsh; both sides
    replayed in SQL end-to-end.  Per-probe recalls are exact rationals
    (count/10), so no cross-engine float summation is involved."""
    emb = load_table(spark, sf_dir, "embeddings")
    truth = cosine_topk_brute(emb, "vec_id", "embedding", probe_mod=50, k=10)
    ranked = pq_adc_ranked(emb, "vec_id", "embedding", probe_mod=50)
    adc10 = ranked.filter(F.col("rank") <= 10)
    shortlist = ranked.filter(F.col("rank") <= 50).select("id1", "id2")
    raw = _vectors(emb, "vec_id", "embedding").withColumn("n", l2_norm(F.col("v")))
    rerank = _rerank_topk(shortlist, raw, 10)
    r_adc = ann_recall(truth, adc10, 10).select(
        "probe_id", F.col("recall").alias("recall_adc")
    )
    r_rr = ann_recall(truth, rerank, 10).select(
        "probe_id", F.col("recall").alias("recall_rerank")
    )
    return r_adc.join(r_rr, "probe_id")


def _matryoshka_oracle(
    probe_mod: int,
    dims: tuple[int, ...],
    full_dim: int,
    k: int,
    probe_cap: int = 512,
) -> str:
    widths = tuple(dims) + (full_dim,)
    cs_cols = ",\n             ".join(
        f"{cosine_sql('pv', 'v', m, DUCK)} AS cs{m}"
        for m in widths
    )
    melt = " UNION ALL ".join(
        f"SELECT id1, id2, {m}::BIGINT AS m, cs{m} AS cs FROM scored"
        for m in widths
    )
    dim_list = ", ".join(str(m) for m in dims)
    ctes = f"""probes AS (
      SELECT vid AS pid, v AS pv FROM base
      WHERE vid % {probe_mod} = 0 AND vid < {probe_cap}
    ), pairs AS (
      SELECT pid, pv, vid, v FROM base JOIN probes ON pid <> vid
    ), scored AS (
      SELECT pid AS id1, vid AS id2,
             {cs_cols}
      FROM pairs
    ), melted AS ({melt}),
    top AS (
      SELECT m, id1, id2 FROM (
        SELECT m, id1, id2,
               row_number() OVER (PARTITION BY m, id1
                                  ORDER BY cs DESC, id2) AS rnk
        FROM melted
      ) WHERE rnk <= {k}
    ),
    truth AS (SELECT id1, id2 FROM top WHERE m = {full_dim}),
    np AS (SELECT count(*)::BIGINT AS n_probes FROM probes),
    hits AS (
      SELECT t.m, count(*)::BIGINT AS hits
      FROM top t JOIN truth u ON t.id1 = u.id1 AND t.id2 = u.id2
      WHERE t.m <> {full_dim}
      GROUP BY t.m
    )"""
    return _duck_with(
        [_duck_base(), ctes],
        f"""
    SELECT d.m::BIGINT AS m,
           (SELECT n_probes FROM np) AS n_probes,
           coalesce(h.hits, 0)::BIGINT AS hits,
           ((coalesce(h.hits, 0) * 1000000)
            // ((SELECT n_probes FROM np) * {k}))::BIGINT AS recall_x1m
    FROM (SELECT unnest([{dim_list}]) AS m) d
    LEFT JOIN hits h ON h.m = d.m
    """,
    )


@query("sim_matryoshka_recall", oracle=_matryoshka_oracle(50, (8, 16, 32), 64, 10))
def sim_matryoshka_recall_q(spark, sf_dir):
    """Matryoshka truncation readout: recall@10 of prefix-cosine top-10
    (8/16/32 of 64 dims) vs the full-dimension exact ground truth over
    the standard 1-in-50 probe set."""
    emb = load_table(spark, sf_dir, "embeddings")
    return matryoshka_recall(emb, "vec_id", "embedding")


@query("sim_ivfpq_recall_rowsonly")
def sim_ivfpq_recall_rowsonly_q(spark, sf_dir):
    """Per-probe recall@10 of the full IVF-PQ read path (trained cells
    auto-sized toward √N, trained m=8/k=64 codebooks, ADC
    shortlist=100, exact re-rank) against brute-force ground truth —
    the end-to-end certificate for the composed 100 TB index
    (`ivfpq_topk`).  Rows-only: trained float models have no SQL
    replay; floors pinned in tests/test_dedup.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    approx = ivfpq_topk(emb, "vec_id", "embedding", probe_mod=50, k=10)
    truth = cosine_topk_brute(emb, "vec_id", "embedding", probe_mod=50, k=10)
    return ann_recall(truth, approx, 10)


@query("graph_knn_ann_trained_rowsonly")
def graph_knn_ann_trained_rowsonly_q(spark, sf_dir):
    """The PRODUCTION kNN-graph builder under the driver: a bare
    `knn_graph_ann()` call (trained auto-√N centroids, literal-argmin
    assignment — the linear path a 100 TB job uses) builds every
    1-in-5 vertex's top-10 edges; emitted per probe as edge count +
    recall vs the brute graph.  Rows-only: trained centroids aren't
    SQL-replayable — the modular twins (`graph_knn_ann_edges`,
    `graph_bfs_ann`) carry the hash contract."""
    emb = load_table(spark, sf_dir, "embeddings")
    ann = knn_graph_ann(emb, "vec_id", "embedding", k=10, probe_mod=5)
    truth = cosine_topk_brute(emb, "vec_id", "embedding", probe_mod=5, k=10)
    return ann_recall(truth, ann, 10)


@query("sim_pq_tuned_recall_rowsonly")
def sim_pq_tuned_recall_rowsonly_q(spark, sf_dir):
    """Per-probe recall@10 of the TUNED trained-PQ read path (m=8, k=64
    codewords, shortlist=100 → exact re-rank) against brute-force
    ground truth — the configuration the round-5 sweep selected for
    recall@10 ≥ 0.7 (measured 0.775 at sf0.1; full cost curve in
    PLANS.md).  Rows-only: trained float centroids aren't
    SQL-replayable; the modular-codebook twins (sim_pq_adc_topk /
    sim_pq_recall) carry the hash contract, and the ≥ 0.6 recall floor
    is pinned in tests/test_dedup.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    norm = _unit_vectors(emb, "vec_id", "embedding", DIM, "nv")
    books = pq_fit(norm, "vid", "nv", m=8, k=64, iters=3)
    tuned = pq_adc_trained_topk(
        emb, "vec_id", "embedding", books, probe_mod=50, k=10, shortlist=100
    )
    truth = cosine_topk_brute(emb, "vec_id", "embedding", probe_mod=50, k=10)
    return ann_recall(truth, tuned, 10)


def _duck_linkpred_oracle(probe_mod: int, topk: int, min_score: float) -> str:
    return _duck_with(
        [
            _duck_base(probe_mod),
            _duck_ranked(),
            _duck_knn_edges("ranked", topk),
            """deg AS (
      SELECT u, count(*) AS d FROM ed GROUP BY u
    ), wedges AS (
      SELECT e1.u AS a, e2.v AS b, count(*) AS common
      FROM ed e1 JOIN ed e2 ON e1.v = e2.u
      WHERE e1.u < e2.v
      GROUP BY e1.u, e2.v
    ), cand AS (
      SELECT w.a, w.b, w.common FROM wedges w
      WHERE NOT EXISTS (
        SELECT 1 FROM knn k WHERE k.u = w.a AND k.v = w.b
      )
    )""",
        ],
        f"""
    SELECT c.a, c.b, c.common,
           round(c.common / (da.d + db.d - c.common), 6) AS score
    FROM cand c
      JOIN deg da ON da.u = c.a
      JOIN deg db ON db.u = c.b
    WHERE round(c.common / (da.d + db.d - c.common), 6) >= {min_score}
    """,
    )


@query("graph_link_prediction", oracle=_duck_linkpred_oracle(5, 10, 0.2))
def graph_link_prediction_q(spark, sf_dir):
    """Predicted missing links on the 1-in-5-probe kNN graph: every
    non-adjacent pair with neighborhood Jaccard >= 0.2."""
    emb = load_table(spark, sf_dir, "embeddings")
    knn = cosine_topk_brute(emb, "vec_id", "embedding", probe_mod=5, k=10)
    edges = knn.select(
        F.least("id1", "id2").alias("u"), F.greatest("id1", "id2").alias("v")
    ).distinct()
    return link_prediction_jaccard(edges, 0.2)


def _duck_rp_oracle(probe_mod: int, other_mod: int) -> str:
    scale = 1.0 / (RP_DIM ** 0.5)

    def proj(vec: str) -> list[str]:
        return [f"({dot_sql(vec, p, DIM, DUCK)} * {scale})" for p in RP_PLANES]

    orig = sqdist_sql("a.v", "b.v", DIM, DUCK)
    projd = chain(map(sqdiff, proj("a.v"), proj("b.v")), DUCK.seed)
    return _duck_with(
        [
            _duck_base(),
            f"""a AS (
      SELECT vid, v FROM base WHERE vid % {probe_mod} = 0
    ), b AS (
      SELECT vid, v FROM base WHERE vid % {other_mod} = 0
    )""",
        ],
        f"""
    SELECT a.vid AS id1, b.vid AS id2,
           round({orig}, 6) AS orig_d2,
           round({projd}, 6) AS proj_d2,
           round({projd} / {orig}, 6) AS ratio
    FROM a JOIN b ON a.vid <> b.vid
    """,
    )


@query("sim_random_projection", oracle=_duck_rp_oracle(50, 11))
def sim_random_projection_q(spark, sf_dir):
    """JL random projection 64 → 16 dims: squared distances before and
    after projection for every (1-in-50 probe, 1-in-11 corpus) pair,
    with the preservation ratio — the measured evidence that the sketch
    keeps neighborhoods (E[ratio] = 1, concentration by JL), and the
    dimensionality-reduction primitive that makes downstream ANN /
    clustering 4x cheaper per vector.

    Plan: projection is RP_DIM codegen'd fold-sums evaluated once per
    side; the pair join is probe-broadcast like cosine_topk_brute.  The
    oracle replays the entire fixed ±1 matrix in left-assoc SQL, so
    every value is bit-identical."""
    base = _vectors(load_table(spark, sf_dir, "embeddings"), "vec_id", "embedding")
    a = base.filter(F.col("vid") % 50 == 0).select(
        F.col("vid").alias("id1"), F.col("v").alias("va")
    ).withColumn("pa", random_project(F.col("va")))
    b = base.filter(F.col("vid") % 11 == 0).select(
        F.col("vid").alias("id2"), F.col("v").alias("vb")
    ).withColumn("pb", random_project(F.col("vb")))
    diff2 = lambda x, y: dot(  # noqa: E731
        F.zip_with(x, y, lambda p, q: p - q), F.zip_with(x, y, lambda p, q: p - q)
    )
    pairs = b.join(F.broadcast(a), F.col("id1") != F.col("id2"))
    return pairs.select(
        "id1",
        "id2",
        F.round(diff2(F.col("va"), F.col("vb")), 6).alias("orig_d2"),
        F.round(diff2(F.col("pa"), F.col("pb")), 6).alias("proj_d2"),
        F.round(
            diff2(F.col("pa"), F.col("pb")) / diff2(F.col("va"), F.col("vb")), 6
        ).alias("ratio"),
    )


@query(
    "sim_gram_matrix",
    oracle=f"""
    WITH m AS (
      SELECT generate_subscripts(embedding::DOUBLE[], 1) - 1 AS i,
             unnest(embedding::DOUBLE[]) AS x,
             vec_id
      FROM embeddings
    )
    SELECT a.i AS i, b.i AS j,
           round(sum(a.x * b.x), 6) AS g
    FROM m a JOIN m b ON a.vec_id = b.vec_id AND a.i <= b.i
    GROUP BY a.i, b.i
    """,
)
def sim_gram_matrix_q(spark, sf_dir):
    """The corpus Gram matrix X'X (upper triangle, 64x64 → 2080 cells)
    — the sufficient statistic behind closed-form OLS, covariance/PCA,
    and whitening: compute it ONCE in a distributed pass and every
    downstream d x d solve is driver-trivial.

    Plan: posexplode to (vec, dim, x) rows, self-join on the vector id
    (co-partitioned — the join key is the id both sides were exploded
    from, so with the upstream repartition there is ONE shuffle), then
    a d² hash aggregate.  The shuffle carries (d²/2) partials per task
    — independent of corpus size.  Cross-engine: per-cell sums differ
    in last-ulp order; 6-dp rounding absorbs it (values O(n))."""
    emb = load_table(spark, sf_dir, "embeddings")
    ncores = emb.sparkSession.sparkContext.defaultParallelism
    m = (
        emb.repartition(ncores, "vec_id")
        .select(
            "vec_id",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("i", "x"),
        )
    )
    a, b = m.alias("a"), m.alias("b")
    return (
        a.join(
            b,
            (F.col("a.vec_id") == F.col("b.vec_id"))
            & (F.col("a.i") <= F.col("b.i")),
        )
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg(F.round(F.sum(F.col("a.x") * F.col("b.x")), 6).alias("g"))
    )


@query(
    "graph_assortativity",
    oracle=_duck_with(
        [
            _duck_base(5),
            _duck_ranked(),
            _duck_knn_edges("ranked", 10),
            "deg AS (SELECT u, count(*) AS d FROM ed GROUP BY u)",
        ],
        """
    SELECT CAST(count(*) AS BIGINT) AS n_directed_edges,
           round(avg(da.d), 6) AS mean_deg,
           round(corr(da.d, db.d), 6) AS assortativity
    FROM ed e JOIN deg da ON da.u = e.u JOIN deg db ON db.u = e.v
    """,
    ),
)
def graph_assortativity_q(spark, sf_dir):
    """Degree assortativity of the kNN graph: the Pearson correlation
    of endpoint degrees over all (directed) edges — positive means hubs
    connect to hubs (social-network-like), negative means hub-and-spoke
    (typical for kNN graphs, where dense-region vectors absorb many
    reverse edges).  The one-number topology screen that decides
    whether degree-capping is needed before wedge/triangle work.

    Plan: degree table (one hash agg) joined onto the edge list twice
    (vertex-keyed equi-joins — per-vertex tables, so no broadcast
    hint), one corr aggregate."""
    emb = load_table(spark, sf_dir, "embeddings")
    knn = cosine_topk_brute(emb, "vec_id", "embedding", probe_mod=5, k=10)
    edges = pin(
        knn.select(
            F.least("id1", "id2").alias("u"), F.greatest("id1", "id2").alias("v")
        ).distinct()
    )
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    da = deg.select(F.col("u"), F.col("d").alias("da"))
    db = deg.select(F.col("u").alias("v"), F.col("d").alias("db"))
    # per-vertex degree tables: plain joins (AQE decides)
    return (
        sym.join(da, "u")
        .join(db, "v")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_directed_edges"),
            F.round(F.avg("da"), 6).alias("mean_deg"),
            F.round(F.corr("da", "db"), 6).alias("assortativity"),
        )
    )


@query(
    "sim_triplet_mining",
    oracle=_duck_with(
        [
            _duck_base(25),
            f"""lab AS (
      SELECT vec_id AS vid, label FROM embeddings
    ), scored AS (
      SELECT p.pid, b.vid, {cosine_sql("p.pv", "b.v", DIM, DUCK)} AS cs,
             la.label AS alabel, lb.label AS blabel
      FROM base b
        JOIN probes p ON p.pid <> b.vid
        JOIN lab la ON la.vid = p.pid
        JOIN lab lb ON lb.vid = b.vid
    ), pos AS (
      SELECT pid, vid AS pos_id, cs AS pos_cos FROM (
        SELECT pid, vid, cs,
               row_number() OVER (PARTITION BY pid ORDER BY cs DESC, vid) AS rn
        FROM scored WHERE alabel = blabel
      ) WHERE rn = 1
    ), neg AS (
      SELECT s.pid, s.vid AS neg_id, s.cs AS neg_cos,
             row_number() OVER (PARTITION BY s.pid
                                ORDER BY s.cs DESC, s.vid) AS rn
      FROM scored s JOIN pos p ON p.pid = s.pid
      WHERE s.alabel <> s.blabel AND s.cs < p.pos_cos
    )""",
        ],
        """
    SELECT p.pid AS anchor_id, p.pos_id, n.neg_id,
           round(p.pos_cos, 6) AS pos_cos,
           round(n.neg_cos, 6) AS neg_cos,
           round(p.pos_cos - n.neg_cos, 6) AS margin
    FROM pos p JOIN neg n ON n.pid = p.pid AND n.rn = 1
    """,
    ),
)
def sim_triplet_mining_q(spark, sf_dir):
    """Semi-hard triplet mining for metric learning: for each anchor
    (1-in-25 probe), the most-similar SAME-label vector as the
    positive, and the hardest DIFFERENT-label vector that is still
    farther than the positive (the semi-hard band of FaceNet) as the
    negative — the batch construction that makes triplet-loss training
    converge, as one engine query.

    Plan: the anchor-probe set broadcasts against the corpus exactly
    like cosine_topk_brute; label attachment is two dimension joins;
    positive and semi-hard negative are per-anchor argmax windows over
    bit-exact scores (id tie-breaks), so the mined triplets are
    deterministic and the oracle replays them."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        F.col("vec_id").alias("vid"),
        F.col("embedding").cast("array<double>").alias("v"),
        "label",
    ).withColumn("vn", l2_norm(F.col("v")))
    probes = base.filter(F.col("vid") % 25 == 0).select(
        F.col("vid").alias("pid"), F.col("v").alias("pv"),
        F.col("vn").alias("pn"), F.col("label").alias("alabel"),
    )
    scored = pin(
        base.join(F.broadcast(probes), F.col("pid") != F.col("vid")).select(
            "pid",
            "vid",
            (dot(F.col("pv"), F.col("v")) / (F.col("pn") * F.col("vn"))).alias("cs"),
            "alabel",
            F.col("label").alias("blabel"),
        )
    )  # two consumers: positives + negatives
    wp = Window.partitionBy("pid").orderBy(F.desc("cs"), F.asc("vid"))
    pos = (
        scored.filter(F.col("alabel") == F.col("blabel"))
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == 1)
        .select("pid", F.col("vid").alias("pos_id"), F.col("cs").alias("pos_cos"))
    )
    neg_cand = (
        scored.filter(F.col("alabel") != F.col("blabel"))
        .join(pos.select("pid", "pos_cos"), "pid")
        .filter(F.col("cs") < F.col("pos_cos"))
    )
    neg = (
        neg_cand.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == 1)
        .select("pid", F.col("vid").alias("neg_id"), F.col("cs").alias("neg_cos"))
    )
    return pos.join(neg, "pid").select(
        F.col("pid").alias("anchor_id"),
        "pos_id",
        "neg_id",
        F.round("pos_cos", 6).alias("pos_cos"),
        F.round("neg_cos", 6).alias("neg_cos"),
        F.round(F.col("pos_cos") - F.col("neg_cos"), 6).alias("margin"),
    )


@query(
    "sim_knn_outlier_scores",
    oracle=_duck_with(
        [_duck_base(5), _duck_ranked()],
        """
    SELECT id1 AS vid, round(cos_raw, 6) AS cos_at_k,
           round(1.0 - round(cos_raw, 6), 6) AS outlier_score
    FROM ranked WHERE rank = 10
    """,
    ),
)
def sim_knn_outlier_scores_q(spark, sf_dir):
    """Distance-to-kth-neighbor outlier scores: a vector whose 10th-
    nearest neighbor is already far (low cosine) sits in a sparse
    region — the classic kNN density proxy for embedding-space outlier
    and OOD detection (the per-point counterpart to the k-core's
    subgraph-level density filter).

    Plan: exactly the brute top-k machinery, keeping ONLY the rank-k
    row per probe — no extra passes; with an ANN index the same score
    comes from the index probe at negligible cost."""
    emb = load_table(spark, sf_dir, "embeddings")
    knn = cosine_topk_brute(emb, "vec_id", "embedding", probe_mod=5, k=10)
    return knn.filter(F.col("rank") == 10).select(
        F.col("id1").alias("vid"),
        F.col("cosine").alias("cos_at_k"),
        F.round(1.0 - F.col("cosine"), 6).alias("outlier_score"),
    )


@query(
    "graph_label_modularity",
    oracle=_duck_with(
        [
            _duck_base(5),
            _duck_ranked(),
            _duck_knn_edges("ranked", 10),
            """lab AS (
      SELECT vec_id AS vid, label FROM embeddings
    ), lab_e AS (
      SELECT k.u, k.v, lu.label AS lu, lv.label AS lv
      FROM knn k JOIN lab lu ON lu.vid = k.u JOIN lab lv ON lv.vid = k.v
    ), m AS (
      SELECT count(*) AS m FROM knn
    ), ends AS (
      SELECT u AS x, lu AS l FROM lab_e UNION ALL SELECT v, lv FROM lab_e
    ), dsum AS (
      SELECT l, count(*) AS d FROM ends GROUP BY l
    ), within AS (
      SELECT lu AS l, count(*) AS mc FROM lab_e WHERE lu = lv GROUP BY lu
    ), per AS (
      SELECT d.l,
             coalesce(w.mc, 0) * 1.0 / m.m
               - (d.d / (2.0 * m.m)) * (d.d / (2.0 * m.m)) AS q
      FROM dsum d LEFT JOIN within w ON w.l = d.l CROSS JOIN m
    )""",
        ],
        """
    SELECT CAST((SELECT m FROM m) AS BIGINT) AS n_edges,
           CAST(count(*) AS BIGINT) AS n_labels,
           round(sum(q), 6) AS modularity
    FROM per
    """,
    ),
)
def graph_label_modularity_q(spark, sf_dir):
    """Newman modularity of the TRUE label partition over the kNN
    graph: Q = Σ_c (m_c/m − (d_c/2m)²) — the one-number check of how
    well the class structure aligns with embedding-space neighborhoods
    (high Q ⇒ labels form graph communities ⇒ kNN classifiers and
    graph-propagation labeling will work; near-zero Q ⇒ the embedding
    does not separate the classes).

    Plan: label attachment is two vertex-keyed joins; within-community
    edge counts and degree sums are two small aggregates over the edge
    list; the Q fold runs over |labels| rows.  Everything after the kNN
    construction is edge-list-sized."""
    emb = load_table(spark, sf_dir, "embeddings")
    knn = cosine_topk_brute(emb, "vec_id", "embedding", probe_mod=5, k=10)
    edges = pin(
        knn.select(
            F.least("id1", "id2").alias("u"), F.greatest("id1", "id2").alias("v")
        ).distinct()
    )
    lab = emb.select(F.col("vec_id").alias("vid"), "label")
    lab_e = pin(
        edges.join(lab.select(F.col("vid").alias("u"), F.col("label").alias("lu")), "u")
        .join(lab.select(F.col("vid").alias("v"), F.col("label").alias("lv")), "v")
    )
    m = edges.count()
    dsum = (
        lab_e.select(F.col("lu").alias("l"))
        .union(lab_e.select(F.col("lv").alias("l")))
        .groupBy("l")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    within = (
        lab_e.filter(F.col("lu") == F.col("lv"))
        .groupBy(F.col("lu").alias("l"))
        .agg(F.count(F.lit(1)).alias("mc"))
    )
    per = dsum.join(within, "l", "left").select(
        (
            F.coalesce("mc", F.lit(0)) / F.lit(float(m))
            - (F.col("d") / F.lit(2.0 * m)) * (F.col("d") / F.lit(2.0 * m))
        ).alias("q")
    )
    return per.agg(
        F.lit(m).cast("bigint").alias("n_edges"),
        F.count(F.lit(1)).cast("bigint").alias("n_labels"),
        F.round(F.sum("q"), 6).alias("modularity"),
    )


@query(
    "sim_recall_curve_lsh",
    oracle=_duck_with(
        [
            _duck_base(50),
            _duck_lsh_cand(50),
            _duck_ranked("cand", "a_"),
            _duck_ranked(prefix="t_"),
            """ks AS (
      SELECT unnest([1, 5, 10]) AS k
    ), probeset AS (
      SELECT DISTINCT id1 FROM t_ranked
    ), hits AS (
      SELECT a.id1, kk.k, count(*) AS h
      FROM a_ranked a
        JOIN t_ranked t ON t.id1 = a.id1 AND t.id2 = a.id2
        JOIN ks kk ON a.rank <= kk.k AND t.rank <= kk.k
      GROUP BY a.id1, kk.k
    ), per AS (
      SELECT kk.k, coalesce(h.h, 0) * 1.0 / kk.k AS r
      FROM probeset p CROSS JOIN ks kk
      LEFT JOIN hits h ON h.id1 = p.id1 AND h.k = kk.k
    )""",
        ],
        """
    SELECT CAST(k AS BIGINT) AS k,
           CAST(count(*) AS BIGINT) AS n_probes,
           round(avg(r), 6) AS mean_recall
    FROM per GROUP BY k
    """,
    ),
)
def sim_recall_curve_lsh_q(spark, sf_dir):
    """LSH recall CURVE — mean recall@k of the hyperplane index against
    exact ground truth for k in {1, 5, 10}: the index-tuning readout
    (recall@1 tells you about the nearest neighbor specifically, which
    banding parameters trade away first).  Zero-hit probes count as
    zero recall (the probeset cross join), not as missing rows.

    Plan: both rankings are the existing probe-broadcast shapes; the
    curve aggregation is O(probes · k-levels)."""
    emb = load_table(spark, sf_dir, "embeddings")
    truth = cosine_topk_brute(emb, "vec_id", "embedding", probe_mod=50, k=10)
    approx = cosine_topk_lsh(emb, "vec_id", "embedding", probe_mod=50, k=10)
    ks = emb.sparkSession.createDataFrame([(1,), (5,), (10,)], "k int")
    t = truth.select("id1", "id2", F.col("rank").alias("rt"))
    a = approx.select("id1", "id2", F.col("rank").alias("ra"))
    hits = (
        a.join(t, ["id1", "id2"])
        .join(F.broadcast(ks), (F.col("ra") <= F.col("k")) & (F.col("rt") <= F.col("k")))
        .groupBy("id1", "k")
        .agg(F.count(F.lit(1)).alias("h"))
    )
    probeset = t.select("id1").distinct()
    per = (
        probeset.crossJoin(F.broadcast(ks))
        .join(hits, ["id1", "k"], "left")
        .select("k", (F.coalesce("h", F.lit(0)) / F.col("k")).alias("r"))
    )
    return per.groupBy(F.col("k").cast("bigint").alias("k")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probes"),
        F.round(F.avg("r"), 6).alias("mean_recall"),
    )


@query(
    "graph_effective_diameter",
    oracle=f"""
    WITH bfs AS ({_duck_bfs_oracle(4, 5, 10, 50)})
    SELECT round(quantile_cont(CASE WHEN dist >= 0 THEN dist END, 0.9), 6)
             AS eff_diameter_p90,
           CAST(sum(CASE WHEN dist >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_reached,
           CAST(sum(CASE WHEN dist < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_unreached
    FROM bfs
    """,
)
def graph_effective_diameter_q(spark, sf_dir):
    """Effective diameter (90th-percentile hop distance among reached
    vertices) of the kNN graph from the 1-in-50 seed set, plus the
    reached/unreached census — the one-number connectivity summary
    (small-world check, diffusion-radius estimate) built directly on
    the `bfs_hops` primitive.  `quantile_cont` ≡ Spark `F.percentile`
    exactly (verify-notes contract), and the inputs are exact BIGINT
    hop counts, so the interpolated percentile is engine-stable.  The
    unreached count is reported rather than silently dropped (a
    truncated 4-hop exploration undercounts distances; the census
    makes that visible)."""
    emb = load_table(spark, sf_dir, "embeddings")
    knn = cosine_topk_brute(emb, "vec_id", "embedding", probe_mod=5, k=10)
    edges = knn.select(
        F.least("id1", "id2").alias("u"), F.greatest("id1", "id2").alias("v")
    ).distinct()
    vertices = emb.select(F.col("vec_id").alias("id"))
    seeds = emb.filter(F.col("vec_id") % 50 == 0).select(F.col("vec_id").alias("id"))
    d = bfs_hops(vertices, edges, seeds, rounds=4)
    return d.agg(
        F.round(
            F.expr("percentile(CASE WHEN dist >= 0 THEN dist END, 0.9)"), 6
        ).alias("eff_diameter_p90"),
        F.sum((F.col("dist") >= 0).cast("long")).alias("n_reached"),
        F.sum((F.col("dist") < 0).cast("long")).alias("n_unreached"),
    )


@query(
    "graph_clustering_coeff",
    oracle=_duck_with(
        _DUCK_TRI_CTES
        + [
            """tcount AS (
      SELECT v, count(*) AS n_tri FROM (
        SELECT u AS v FROM tri
        UNION ALL SELECT y AS v FROM tri
        UNION ALL SELECT z AS v FROM tri
      ) GROUP BY v
    )"""
        ],
        """
    SELECT d.v AS id, CAST(d.d AS BIGINT) AS degree,
           CAST(coalesce(t.n_tri, 0) AS BIGINT) AS n_tri,
           round(2.0 * coalesce(t.n_tri, 0) / (d.d * (d.d - 1)), 6) AS coeff
    FROM deg d LEFT JOIN tcount t ON t.v = d.v
    WHERE d.d >= 2
    """,
    ),
)
def graph_clustering_coeff_q(spark, sf_dir):
    """Local clustering coefficient per vertex of the kNN graph —
    2·triangles / (degree·(degree−1)), the how-clique-like-is-my-
    neighborhood signal that separates tight similarity communities
    (coeff → 1) from hub-and-spoke noise (coeff → 0).  Vertices with
    degree ≥ 2 and ZERO triangles are kept at coefficient 0 via the
    left join (a triangle-only census silently drops them and skews
    any average upward); coefficients are exact small-integer ratios,
    identical on both engines.  Plan cost = the degree-ordered
    triangle count (`triangle_counts`, hub-proof) + one left join of
    two vertex-sized tables."""
    from dask_obj_spark.operators.corpus import triangle_counts

    emb = load_table(spark, sf_dir, "embeddings")
    knn = cosine_topk_brute(emb, "vec_id", "embedding", probe_mod=50, k=10)
    e = (
        knn.select(
            F.least("id1", "id2").alias("a"), F.greatest("id1", "id2").alias("b")
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .union(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    tri = triangle_counts(knn.select("id1", "id2"), "id1", "id2")
    return (
        deg.join(tri, "v", "left")
        .filter(F.col("d") >= 2)
        .select(
            F.col("v").alias("id"),
            F.col("d").cast("long").alias("degree"),
            F.coalesce("n_tri", F.lit(0)).cast("long").alias("n_tri"),
            F.round(
                2.0 * F.coalesce("n_tri", F.lit(0)) / (F.col("d") * (F.col("d") - 1)),
                6,
            ).alias("coeff"),
        )
    )


@query("sim_pq_trained_rowsonly")
def sim_pq_trained_rowsonly_q(spark, sf_dir):
    """The PRODUCTION PQ path end-to-end through the engine: pq_fit
    trains 4 per-subspace k-means codebooks (k=8, 2 Lloyd rounds) on
    the corpus, pq_encode assigns codes by broadcast argmin — rows-only
    (trained float centroids aren't SQL-replayable; the numpy-parity
    unit test pins assignment correctness, and the modular-codebook
    twins sim_pq_encode / sim_pq_adc_topk carry the hash contract)."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_fit(emb, "vec_id", "embedding", m=PQ_M, k=8, iters=2)
    return pq_encode(emb, "vec_id", "embedding", books)


def _duck_kcenter_sql(k: int, dim: int) -> str:
    """Identically-unrolled greedy k-center rounds (MATERIALIZED CTEs:
    DuckDB would otherwise inline each round's chain exponentially)."""
    ctes = [
        _duck_base(materialized=True),
        "p1 AS MATERIALIZED (SELECT vid, v FROM base ORDER BY vid LIMIT 1)",
    ]
    for r in range(2, k + 1):
        mind = sqdist_sql("b.v", "p1.v", dim, DUCK)
        for j in range(2, r):
            mind = f"least({mind}, {sqdist_sql('b.v', f'p{j}.v', dim, DUCK)})"
        froms = ", ".join(["base b"] + [f"p{j}" for j in range(1, r)])
        ctes.append(
            f"""p{r} AS MATERIALIZED (
      SELECT b.vid AS vid, b.v AS v, {mind} AS mind
      FROM {froms}
      ORDER BY mind DESC, b.vid LIMIT 1
    )"""
        )
    selects = [
        "SELECT CAST(1 AS INTEGER) AS round, vid, CAST(0 AS BIGINT) AS dist_x1m FROM p1"
    ] + [
        f"SELECT CAST({r} AS INTEGER), vid, CAST(floor(1000000.0 * mind) AS BIGINT) FROM p{r}"
        for r in range(2, k + 1)
    ]
    return _duck_with(ctes, "\nUNION ALL ".join(selects))


@query("sim_kcenter_coreset", oracle=_duck_kcenter_sql(6, DIM))
def sim_kcenter_coreset_q(spark, sf_dir):
    """Greedy k-center coreset (6 picks) over the embeddings table:
    each round's pick and its coverage radius, oracle-replayed through
    identically-unrolled farthest-point rounds."""
    emb = load_table(spark, sf_dir, "embeddings")
    return kcenter_coreset(emb, "vec_id", "embedding", k=6)


def _duck_binary_hamming_oracle(probe_mod: int, k: int, shortlist: int, dim: int) -> str:
    nwords = (dim + 31) // 32
    cos = cosine_sql("p.v", "c.v", dim, DUCK)
    ctes = f"""qd AS MATERIALIZED (
  SELECT vid, i, floor(v[i] * 1000000.0)::BIGINT AS q
  FROM base, range(1, {dim + 1}) t(i)
),
fit AS (SELECT i, sum(q) AS t FROM qd GROUP BY i),
nn AS (SELECT count(*)::BIGINT AS n FROM base),
wordrows AS MATERIALIZED (
  SELECT qd.vid, ((qd.i - 1) // 32)::INT AS w,
         sum(CASE WHEN qd.q * nn.n > fit.t
             THEN (1::BIGINT << ((qd.i - 1) % 32)) ELSE 0 END) AS word
  FROM qd JOIN fit USING (i) CROSS JOIN nn
  GROUP BY qd.vid, ((qd.i - 1) // 32)
),
ham AS MATERIALIZED (
  SELECT p.vid AS pid, c.vid AS vid,
         sum(bit_count(xor(p.word, c.word)))::BIGINT AS hamming
  FROM wordrows p JOIN wordrows c USING (w)
  WHERE p.vid % {probe_mod} = 0 AND p.vid <> c.vid
  GROUP BY 1, 2
),
sl AS MATERIALIZED (
  SELECT pid, vid, hamming,
         row_number() OVER (PARTITION BY pid ORDER BY hamming ASC, vid ASC) AS slrank
  FROM ham
  QUALIFY slrank <= {shortlist}
),
rr AS (
  SELECT sl.pid, sl.vid, sl.hamming,
         floor({cos} * 1000000.0)::BIGINT AS cos_x1m
  FROM sl JOIN base p ON sl.pid = p.vid JOIN base c ON sl.vid = c.vid
)"""
    return _duck_with(
        [_duck_base(materialized=True), ctes],
        f"""
SELECT pid AS id1, vid AS id2, hamming, cos_x1m,
       row_number() OVER (PARTITION BY pid ORDER BY cos_x1m DESC, vid ASC) AS rank
FROM rr
QUALIFY rank <= {k}
""",
    )


@query(
    "sim_binary_hamming_topk",
    oracle=_duck_binary_hamming_oracle(50, 10, 100, DIM),
)
def sim_binary_hamming_topk_q(spark, sf_dir):
    """Binary-quantization ANN (packed sign bits + Hamming shortlist +
    exact cosine re-rank) for probes vid % 50 == 0 over the embeddings
    table — the 32×-compressed candidate-generation read path."""
    emb = load_table(spark, sf_dir, "embeddings")
    return binary_hamming_topk(emb, "vec_id", "embedding", probe_mod=50)


def _duck_random_projection_oracle(out_dim: int, dim: int) -> str:
    import math

    signs = _rp_signs(out_dim, dim)
    inv = repr(1.0 / math.sqrt(out_dim))
    ys = ", ".join(f"(({dot_sql('v', row, dim, DUCK)}) * {inv})" for row in signs)
    return _duck_with(
        [_duck_base(), f"proj AS (SELECT vid, [{ys}] AS y FROM base)"],
        f"""
SELECT vid, i - 1 AS j, floor(y[i] * 1000000.0)::BIGINT AS y_x1m
FROM proj, range(1, {out_dim + 1}) t(i)
""",
    )


@query("sim_jl_projection_coords", oracle=_duck_random_projection_oracle(16, DIM))
def sim_jl_projection_coords_q(spark, sf_dir):
    """JL random projection 64 → 16 over the embeddings table, emitted
    as (vid, j, floor-quantized coordinate) rows.

    Distinct from ``sim_random_projection`` (the r4 distance-
    preservation-ratio query over pair distances): this one certifies
    the projected COORDINATES themselves, that one certifies the JL
    guarantee.  The two were briefly registered under one name in
    round 7, which silently shadowed the r4 query (verdict finding #1)
    — ``query()`` now raises on duplicates."""
    emb = load_table(spark, sf_dir, "embeddings")
    proj = random_projection(emb, "vec_id", "embedding", out_dim=16)
    return proj.select(
        "vid",
        F.posexplode("y").alias("j", "yv"),
    ).select(
        "vid",
        "j",
        F.floor(F.col("yv") * F.lit(1000000.0)).cast("bigint").alias("y_x1m"),
    )


def _rbo_oracle(k: int = 10, p: float = RBO_P) -> str:
    terms = []
    for d in range(1, k + 1):
        terms.append(
            f"{p ** (d - 1)!r} * (len(list_intersect(ea[1:{d}], aa[1:{d}]))::DOUBLE / {float(d)!r})"
        )
    chain = "(0.0 + " + " + ".join(terms) + f") * {1.0 - p!r}"
    return _duck_with(
        [
            _duck_base(50),
            _duck_ranked(),
            f"""exact_lists AS (
      SELECT id1, list(id2 ORDER BY rank) AS ea
      FROM ranked WHERE rank <= {k} GROUP BY id1
    )""",
            _duck_lsh_cand(50),
            _duck_ranked("cand", "lsh_"),
            f"""lsh_lists AS (
      SELECT id1, list(id2 ORDER BY rank) AS aa
      FROM lsh_ranked WHERE rank <= {k} GROUP BY id1
    )""",
        ],
        f"""
    SELECT e.id1 AS probe_id,
           floor(({chain}) * 1000000.0)::BIGINT AS rbo_x1m
    FROM exact_lists e JOIN lsh_lists l ON e.id1 = l.id1
    """,
    )


@query("sim_rbo_lsh_vs_exact", oracle=_rbo_oracle())
def sim_rbo_lsh_vs_exact_q(spark, sf_dir):
    """RBO@10 (p=0.9) of the hyperplane-LSH ranking against the exact
    cosine ranking, per probe — the rank-aware ANN quality readout
    that set recall cannot give."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = cosine_topk_brute(emb, "vec_id", "embedding", probe_mod=50, k=10)
    approx = cosine_topk_lsh(emb, "vec_id", "embedding", probe_mod=50, k=10)
    return rbo_vs_exact(
        exact.select("id1", "id2", "rank"), approx.select("id1", "id2", "rank")
    )
