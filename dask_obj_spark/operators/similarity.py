"""Similarity search over embedding columns (north-star Tier E).

Reference has no vector ops (SURVEY.md §2 Tier E; the only imports in
`/root/reference/src/dask_obj/core.py:3-10` are dask/toolz/operator).
Built Spark-first:

- **cosine kernel**: `F.zip_with` product + `F.aggregate` left-fold sum —
  pure JVM whole-stage-codegen arithmetic, no UDF, no Python boundary.
- **brute-force top-k**: small probe set broadcast against the corpus
  (BroadcastNestedLoopJoin — the *corpus* side never shuffles), then
  per-probe top-k via window `row_number`.  This is the exact baseline.
- **LSH ANN**: random-hyperplane (sign) LSH.  P sign bits from fixed ±1
  hyperplanes, split into two half-keys (pigeonhole: any pair agreeing on
  ≥ P/2 bits shares a half) → candidates via equi-join on the half-key →
  exact cosine re-rank of candidates only.  Sub-quadratic: cost is
  bucket-size-bounded, and the join is a plain shuffled/broadcast hash
  join Catalyst already knows how to plan.

Oracle determinism: every vector kernel, Spark and DuckDB alike, is
rendered by `functions/vec.py` (its docstring has the argument).

100 TB notes: brute-force is the *per-probe-batch* building block (probe
batches broadcast in ~64 MB chunks); LSH is the standing-index path —
the (bucket → vec) table is a materialized, bucketed-by-key dataset so
probe joins are shuffle-free.  Hyperplane count trades recall for bucket
size; skewed buckets (dense regions) are handled by AQE skew-join.
"""

from __future__ import annotations

import math
import random
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dask_obj_spark.functions.fastlit import lit_double_array, lit_double_matrix
from dask_obj_spark.functions.vec import (
    chained_prefix_dots,
    dot,
    fixed_dot,
    fixed_hamming,
    fixed_norm,
    l2_norm,
    sqdist,
    sqdist_sql,
    sqnum_sql,
)
from dask_obj_spark.pinning import fixpoint, pin, scoped


# -- brute-force top-k --------------------------------------------------------


def _vectors(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(vid, v) with the vector cast to array<double>: every operator's
    input projection."""
    return df.select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("v")
    )


def _cos_ranked(scored: DataFrame) -> DataFrame:
    """Per-probe rank of scored pairs (id1, id2, cos_raw): row_number by
    cosine descending, ties by id2 — the one ordering every exact and
    ANN read path in this module emits."""
    w = Window.partitionBy("id1").orderBy(F.desc("cos_raw"), F.asc("id2"))
    return scored.withColumn("rank", F.row_number().over(w))


def _cos_topk(scored: DataFrame, k: int, raw: bool = False) -> DataFrame:
    """Top-`k` rows per probe of scored pairs (id1, id2, cos_raw):
    (id1, id2, cosine, rank) with the score rounded to 6 decimals, or
    (id1, id2, cos_raw, rank) unrounded when `raw` (for callers with
    their own quantization contract: round()'s tie semantics differ
    across engines — Spark HALF_UP, DuckDB half-even)."""
    score = F.col("cos_raw") if raw else F.round("cos_raw", 6).alias("cosine")
    return (
        _cos_ranked(scored)
        .filter(F.col("rank") <= k)
        .select("id1", "id2", score, "rank")
    )


def _cosine_pairs(pairs: DataFrame, dot_col: Column) -> DataFrame:
    """(id1, id2, cos_raw) from probe/candidate rows (pid, pn, vid, vn):
    `dot_col` over norms computed once per vector before the pair join.
    The factored ``dot/(‖p‖·‖v‖)`` evaluates the same sqrt folds as the
    3-fold form, so values (and oracle hashes) are bit-identical, but
    per pair only one fold remains."""
    return pairs.select(
        F.col("pid").alias("id1"),
        F.col("vid").alias("id2"),
        (dot_col / (F.col("pn") * F.col("vn"))).alias("cos_raw"),
    )


def _candidate_cosines(cand: DataFrame, dot_col: Column) -> DataFrame:
    """`_cosine_pairs` over candidate rows from a bucket/cell join: a
    pair that shares several buckets or cells is scored once."""
    return _cosine_pairs(
        cand.filter(F.col("pid") != F.col("vid"))
        .select("pid", "pv", "pn", "vid", "v", "vn")
        .distinct(),
        dot_col,
    )


def cosine_topk_brute(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    probe_mod: int,
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors for probe vectors (id % probe_mod == 0).

    The probe side is broadcast; the corpus scans once with no shuffle
    until the final per-probe top-k (tiny: ≤ |probes|·|corpus| pairs only
    conceptually — physically a streamed nested-loop against an in-memory
    probe table)."""
    return _cos_topk(_brute_pairs(df, id_col, vec_col, probe_mod), k)


MAX_PROBES = 4096
"""Hard cap on any brute-harness probe set.

The exact-oracle harnesses select probes as ``vid % probe_mod == 0`` —
N/probe_mod rows, LINEAR in the corpus — so a scale-up could silently
quadratic-ize a "bounded" harness query.  The guard fails loudly
instead of truncating (the no-silent-caps rule): more than MAX_PROBES
probes means you want the ANN library path (cosine_topk_ivf /
knn_graph_ann) or a larger probe_mod."""


def _checked_probe_rows(probes: DataFrame, what: str) -> list:
    """Collect a probe frame under the MAX_PROBES contract (collects at
    most MAX_PROBES+1 rows, so the failure path is cheap too)."""
    rows = probes.limit(MAX_PROBES + 1).collect()
    if len(rows) > MAX_PROBES:
        raise ValueError(
            f"{what}: probe set exceeds MAX_PROBES={MAX_PROBES} "
            "(exact-oracle harness contract) — raise probe_mod or use "
            "the ANN library path (cosine_topk_ivf / knn_graph_ann)"
        )
    return rows


def cosine_ranked_raw(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    probe_mod: int,
) -> DataFrame:
    """All probe-corpus cosine pairs with per-probe rank and the RAW
    (unrounded) cosine — the pair surface of `cosine_topk_brute`, used
    by the weighted-graph builders, which need `cos_raw` so derived
    integer edge weights can floor-quantize it without a round() in
    between (round's tie semantics differ across engines; floor on the
    identical double does not)."""
    return _cos_ranked(_brute_pairs(df, id_col, vec_col, probe_mod))


def _brute_pairs(
    df: DataFrame, id_col: str, vec_col: str, probe_mod: int
) -> DataFrame:
    """(id1, id2, cos_raw) for every probe-corpus pair.

    Explicit fan-out (the PLANS.md compute-bound-stage rule): the
    scoring is an interpreted HOF nested-loop whose parallelism would
    otherwise be the PARQUET SPLIT COUNT of the embeddings table — a
    small table is one file, so the whole |probes|·|corpus| stage ran
    on ONE core (found in the round-5 sf1 spot-check: 66 s of the 69 s
    MMR row was this stage single-threaded).  repartition() is
    row-preserving, so values and oracle hashes are unchanged.

    The probe side derives from the UN-repartitioned scan (its values
    are identical expressions, so bit-identical) — broadcasting it must
    not drag the corpus repartition exchange into the probe branch —
    and is bounded by the MAX_PROBES contract (fails loudly when
    N/probe_mod outgrows it; see MAX_PROBES)."""
    ncores = df.sparkSession.sparkContext.defaultParallelism
    raw0 = _vectors(df, id_col, vec_col)
    # codegen'd fixed-width kernels (see `dot`): bit-identical to the
    # HOF folds, ~5x on the pair stage, 3 driver round-trips total
    base = raw0.repartition(ncores).withColumn("vn", fixed_norm("v", DIM))
    # one scan serves both the MAX_PROBES guard and the probe
    # materialization (the maxsim_topk/heavy_hitters pattern): collect
    # ≤ MAX_PROBES+1 probe rows once — within the cap the collected set
    # is COMPLETE, so it becomes the broadcast local relation and the
    # pair join starts from an in-memory LocalTableScan instead of
    # paying a separate count() job plus a probe re-scan of the corpus
    probe_rows = _checked_probe_rows(
        raw0.filter(F.col("vid") % probe_mod == 0), "cosine_ranked_raw"
    )
    probes = (
        df.sparkSession.createDataFrame(probe_rows, raw0.schema)
        .withColumn("vn", fixed_norm("v", DIM))
        .select(
            F.col("vid").alias("pid"), F.col("v").alias("pv"), F.col("vn").alias("pn")
        )
    )
    pairs = base.join(F.broadcast(probes), F.col("pid") != F.col("vid"))
    return _cosine_pairs(pairs, fixed_dot("pv", "v", DIM))


def cosine_topk_brute_numpy(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    probe_mod: int,
    k: int = 10,
) -> DataFrame:
    """Vectorized brute-force top-k: the production-throughput variant of
    `cosine_topk_brute`. The probe matrix ships inside the closure (the
    same bounded-size contract as a broadcast); each Arrow batch of the
    corpus does ONE BLAS matmul against it and emits only its per-probe
    partial top-k (≤ k rows per probe per batch), so the final exchange
    carries O(probes x k x batches), never all pairs.

    SIMD matmul replaces ~200 interpreted ops per pair with fused
    multiply-adds — this is the kernel you'd run at 100 TB, while the
    `F.aggregate` twin stays the bit-exact oracle reference (float
    summation order differs here: numpy pairwise vs left fold, ~1e-13
    relative, which is why this entry is rows-only)."""
    # explicit fan-out: the parquet scan of a small embeddings table is a
    # handful of input splits — without this the matmul stage runs on 1-2
    # cores (and AQE would coalesce it further; compute-bound stages get
    # an explicit partition count, see PLANS.md)
    ncores = df.sparkSession.sparkContext.defaultParallelism
    raw0 = _vectors(df, id_col, vec_col)
    base = raw0.repartition(ncores)
    # probe matrix collected from the un-repartitioned scan (no corpus
    # exchange in the probe branch) under the MAX_PROBES contract
    probe_rows = _checked_probe_rows(
        raw0.filter(F.col("vid") % probe_mod == 0), "cosine_topk_brute_numpy"
    )
    pids = [r.vid for r in probe_rows]
    pmat = [list(r.v) for r in probe_rows]

    def run(batches):
        import numpy as _np
        import pandas as _pd

        P = _np.asarray(pmat, dtype=_np.float64)
        Pn = P / _np.linalg.norm(P, axis=1, keepdims=True)
        pid_arr = _np.asarray(pids)
        cols = _np.arange(len(pids))
        for pdf in batches:
            if not len(pdf):
                continue
            V = _np.array(pdf["v"].to_list(), dtype=_np.float64)
            Vn = V / _np.linalg.norm(V, axis=1, keepdims=True)
            S = Vn @ Pn.T  # (batch, probes)
            vids = pdf["vid"].to_numpy()
            kk = min(k + 1, S.shape[0])  # +1: self-match may occupy a slot
            top = _np.argpartition(-S, kk - 1, axis=0)[:kk]  # (kk, probes)
            # vectorized emission: gather ids/scores for every (slot, probe)
            # cell at once, mask out self-matches — no Python-level loops
            id2 = vids[top]  # (kk, probes)
            cos = S[top, cols]  # advanced indexing, (kk, probes)
            id1 = _np.broadcast_to(pid_arr, id2.shape)
            keep = id2 != id1
            yield _pd.DataFrame(
                {"id1": id1[keep], "id2": id2[keep], "cos_raw": cos[keep]}
            )

    partial = base.mapInPandas(run, "id1 bigint, id2 bigint, cos_raw double")
    return _cos_topk(partial, k)


# -- random-hyperplane LSH ANN ------------------------------------------------

DIM = 64  # driver testdata embedding dimensionality (FIXTURES.md)
NBITS = 8  # sign bits per vector → 2 half-keys of 4 bits (16 buckets each)

_rng = random.Random(42)
HYPERPLANES: list[list[float]] = [
    [1.0 if _rng.random() < 0.5 else -1.0 for _ in range(DIM)] for _ in range(NBITS)
]


def _sign_bit(v: Column, plane: list[float]) -> Column:
    p = lit_double_array(plane)
    return F.when(dot(v, p) >= 0, F.lit(1)).otherwise(F.lit(0))


def lsh_half_keys(v: Column) -> Column:
    """Two pigeonhole half-keys ("l<n>", "h<n>") from NBITS sign bits."""
    bits = [_sign_bit(v, pl) for pl in HYPERPLANES]
    half = NBITS // 2
    lo = None
    hi = None
    for i in range(half):
        t_lo = bits[i] * (2 ** (half - 1 - i))
        t_hi = bits[half + i] * (2 ** (half - 1 - i))
        lo = t_lo if lo is None else lo + t_lo
        hi = t_hi if hi is None else hi + t_hi
    return F.array(F.concat(F.lit("l"), lo), F.concat(F.lit("h"), hi))


def cosine_topk_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    probe_mod: int,
    k: int = 10,
) -> DataFrame:
    """ANN top-k: hyperplane-LSH half-key buckets → candidate equi-join →
    exact cosine re-rank of candidates only.  May return < k rows per
    probe (standard ANN recall trade); every returned neighbor's score is
    exact."""
    base = _vectors(df, id_col, vec_col).withColumn("vn", l2_norm(F.col("v")))
    keyed = base.select(
        "vid", "v", "vn", F.explode(lsh_half_keys(F.col("v"))).alias("bucket")
    )
    probes = keyed.filter(F.col("vid") % probe_mod == 0).select(
        F.col("vid").alias("pid"), F.col("v").alias("pv"),
        F.col("vn").alias("pn"), "bucket"
    )
    cand = keyed.join(F.broadcast(probes), "bucket")
    return _cos_topk(_candidate_cosines(cand, dot(F.col("pv"), F.col("v"))), k)


# -- IVF (inverted-file) ANN --------------------------------------------------

CENTROID_MOD = 61  # deterministic coarse centroids: vid % 61 == 1
NPROBE = 2


def _modular_assign(base: DataFrame, centroid_mod: int, dot_col: Column) -> DataFrame:
    """Every (vid, v, vn) row against the modular centroid set (vid ≡ 1
    mod `centroid_mod`) with its cosine ``cs`` and its per-vector rank
    ``rn`` (ties by centroid id); `dot_col` is the dot of the vector
    ``v`` and the centroid ``cv``.  The centroid set is a corpus
    fraction, so this is the oracle-replay index, never the library one
    (see knn_graph_ann)."""
    cents = base.filter(F.col("vid") % centroid_mod == 1).select(
        F.col("vid").alias("cid"), F.col("v").alias("cv"), F.col("vn").alias("cn")
    )
    aw = Window.partitionBy("vid").orderBy(F.desc("cs"), F.asc("cid"))
    return (
        base.join(F.broadcast(cents))
        .select(
            "vid", "v", "vn", "cid",
            (dot_col / (F.col("vn") * F.col("cn"))).alias("cs"),
        )
        .withColumn("rn", F.row_number().over(aw))
    )


def _cell_legs(
    assign: DataFrame, nprobe: int, probe_mod: int
) -> tuple[DataFrame, DataFrame]:
    """The IVF candidate legs of a `_modular_assign` frame: each
    vector's own cell, and each probe's `nprobe` nearest cells."""
    cells = assign.filter(F.col("rn") == 1).select("vid", "v", "vn", "cid")
    pcells = assign.filter(
        (F.col("rn") <= nprobe) & (F.col("vid") % probe_mod == 0)
    ).select(
        F.col("vid").alias("pid"), F.col("v").alias("pv"), F.col("vn").alias("pn"), "cid"
    )
    return cells, pcells


def cosine_topk_ivf(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    probe_mod: int,
    k: int = 10,
    centroid_mod: int = CENTROID_MOD,
    nprobe: int = NPROBE,
) -> DataFrame:
    """IVF ANN top-k: corpus vectors are assigned to their nearest coarse
    centroid (one cell each); a probe searches its `nprobe` nearest
    cells with exact cosine re-ranking.

    Plan shape (the part that matters at 100 TB): centroid table is tiny
    and broadcast; assignment is a narrow broadcast nested-loop + per-id
    argmin (no corpus shuffle); the candidate join is a plain equi-join
    on cell id, so probe cost is bounded by cell size, never all-pairs.
    In production the cell table is a standing dataset bucketed by cell
    (see operators/scale.py write_bucketed) and centroids come from
    k-means; here they are deterministic (vid % centroid_mod == 1) so
    the DuckDB oracle reproduces the index exactly."""
    # norms computed once per vector/centroid (see _cosine_pairs)
    base = _vectors(df, id_col, vec_col).withColumn("vn", l2_norm(F.col("v")))
    assign = _modular_assign(base, centroid_mod, dot(F.col("v"), F.col("cv")))
    cells, pcells = _cell_legs(assign, nprobe, probe_mod)
    cand = cells.join(F.broadcast(pcells), "cid")
    return _cos_topk(_candidate_cosines(cand, dot(F.col("pv"), F.col("v"))), k)


@scoped
def knn_graph_ann(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    probe_mod: int = 1,
    centroids: list[list[float]] | None = None,
    nprobe: int = 4,
    centroid_mod: int | None = None,
    kmeans_k: int | None = None,
    kmeans_iters: int = 2,
    raw: bool = False,
    n_rows: int | None = None,
) -> DataFrame:
    """Approximate kNN GRAPH construction — the library path for every
    graph operator (bfs_hops / k_core / triangle counting / label
    propagation) whose input is "the kNN graph of the corpus".

    Unlike `cosine_topk_ivf` (few probes, probe side broadcast), here
    the probe side is the corpus itself (every vertex needs neighbors),
    so candidates come from a PLAIN equi-join on the IVF cell id: each
    vector probes its `nprobe` nearest cells, candidate volume is
    Σ_cells |cell|·|probes touching the cell| — bounded by cell sizes,
    never the |V|² all-pairs surface that brute-force scoring scans.
    Exact cosine re-ranks the candidates, so every emitted edge score
    is exact; only RECALL is approximate (standard ANN-graph trade —
    recall@10 vs the brute graph is pinned in tests/test_dedup.py).

    This closes the BASELINE.md §5 b25 caveat: ~60% of the brute-built
    BFS bench was kNN-graph construction; the oracle-paired graph
    queries keep the brute builder (their fixed-unroll oracles replay
    it), while this is the builder a 100 TB job uses.

    Centroid source — the DEFAULT is the scale-safe path: `centroids`
    (a constant-size k×dim list, e.g. from a prior :func:`kmeans_fit`),
    or, when None, centroids trained in-call with
    ``kmeans_fit(k=kmeans_k, iters=kmeans_iters)``.  Either way the
    model is k·dim driver floats compiled into a per-row literal-array
    argmin (:func:`_nearest_cells`) — assignment is LINEAR in the
    corpus with a constant-size plan, no broadcast that grows with the
    data.  ``kmeans_k=None`` auto-sizes toward √N per the usual IVF
    rule (capped at 64 — the literal plan carries one term per
    centroid; beyond the cap use the bucketed standing index) so cell
    sizes, and with them candidate volume, stay bounded.  Passing
    ``centroid_mod`` instead selects the ORACLE-REPLAY variant used
    only by the `graph_knn_ann_edges` / `graph_bfs_ann` query wrappers:
    the centroid set is the vectors with vid ≡ 1 (mod centroid_mod) —
    corpus-fraction sized, so its broadcast and its N²/centroid_mod
    assignment cost are a replayability price, NOT a design property;
    never use it as a library call at scale."""
    # NOTE (r16): fan_out before the centroid-scoring scan was A/B
    # probed and REGRESSED this row at sf0.1 (2.59 -> 3.62 s): the
    # round-robin exchange plus 32-task overhead exceeds the scoring
    # parallelism it buys at this size — left as-is (the b10/b24 regex
    # chains it does help are 10x heavier per row).
    base = _vectors(df, id_col, vec_col).withColumn("vn", fixed_norm("v", DIM))
    if centroid_mod is not None:
        # oracle-replay path (quadratic; see docstring).  Scoring uses
        # the codegen'd width-guarded kernels (optimization r16, guide
        # §4.1): this corpus×centroid stage and the candidate re-rank
        # below were the two interpreted-HOF sites the r15 kernel
        # migration missed — bit-identical by the `fixed_dot` guard contract.
        # one pass over the corpus computes both legs; materialize it so
        # the cells/pcells branches don't re-score the assignment twice
        assign = pin(_modular_assign(base, centroid_mod, fixed_dot("v", "cv", DIM)))
        cells, pcells = _cell_legs(assign, nprobe, probe_mod)
    else:
        if centroids is None:
            # IVF sizing rule, applied so a bare call is scale-correct
            # without the caller knowing it: cells ~ √N keeps candidate
            # volume ~N^1.5·nprobe/√N = linear per probe in cell size;
            # capped at 64 because the literal-argmin plan carries one
            # struct term per centroid (beyond that, use the bucketed
            # standing index build_ann_index/query_ann_index).  The
            # count is one cheap bounded job; sf1 measured ~40% faster
            # than a fixed k=16 at 10× data (BASELINE.md §6 round-6).
            # Training runs on a bounded deterministic modular sample —
            # the Faiss practice; the full corpus only flows through
            # the narrow assignment scan.  On a 100 TB table even the
            # count scan is real money — pass `n_rows` (catalog stats /
            # known table size) and the bare call runs ZERO extra jobs.
            n = n_rows if n_rows is not None else df.count()
            if kmeans_k is None:
                kmeans_k = max(8, min(64, int(n ** 0.5 / 4)))
            train = df
            if n > 100_000:
                train = df.filter(
                    F.col(id_col) % int(-(-n // 100_000)) == 0
                )
            centroids, _ = kmeans_fit(
                train, id_col, vec_col, k=kmeans_k, iters=kmeans_iters
            )
        # constant-k model state → per-row literal argmin, both legs
        # computed narrowly from the same scan (no join, no window)
        cells = base.select(
            "vid", "v", "vn",
            _nearest_cells("v", centroids, 1).getItem(0).alias("cid"),
        )
        pcells = base.filter(F.col("vid") % probe_mod == 0).select(
            F.col("vid").alias("pid"), F.col("v").alias("pv"),
            F.col("vn").alias("pn"),
            F.explode(_nearest_cells("v", centroids, nprobe)).alias("cid"),
        )
    cand = cells.join(pcells, "cid")  # plain equi-join: both sides corpus-sized
    return _cos_topk(
        _candidate_cosines(cand, fixed_dot("pv", "v", DIM)), k, raw=raw
    )


# -- mini k-means (iterative; feeds production IVF) ---------------------------


# most centroids kmeans_fit unrolls: 2·k·dim nodes bloat plan + codegen method
KMEANS_UNROLL_MAX = 16


def _lloyd(
    df: DataFrame,
    id_col: str,
    col: str,
    vec: Column,
    k: int,
    iters: int,
    assign: Callable[[DataFrame, list], DataFrame],
    stat: Column,
    state_of: Callable[[list, int], Any],
) -> tuple[list, DataFrame]:
    """Lloyd's loop of the two k-means fits.

    The working frame (vid, `col`) holds the vector expression `vec`,
    fanned out and pinned once: the fan-out keeps the interpreted
    argmin stage off one core (the PLANS.md compute-bound-stage rule; a
    1-file scan would pin it there), and the pin stops each of the
    iters+2 scans (init collect, per-iteration update, assignment)
    re-running the caller's upstream plan plus this exchange — the
    localCheckpoint analogue of MLlib KMeans caching its input (values
    unchanged).  Init = the first k vectors by id.

    Per iteration `assign(base, state)` gives (vid, `col`, cell), then
    one posexplode + (cell, pos) aggregate of `stat` over the dimension
    values ``x`` (plus the cell size ``n``) — the shuffle carries k·dim
    partials per partition, never vectors — and ``state_of(m, n)``
    turns a cell's per-dimension `stat` list and size into its new
    state.  A cell the update misses keeps its previous state.
    Returns (state per cell, assignment)."""
    ncores = df.sparkSession.sparkContext.defaultParallelism
    base = pin(
        df.select(F.col(id_col).alias("vid"), vec.alias(col)).repartition(
            ncores, "vid"
        )
    )
    state = [state_of(list(r[col]), 1) for r in base.orderBy("vid").limit(k).collect()]
    assigned = assign(base, state)
    for _ in range(iters):
        new_rows = (
            assigned.select("cell", F.posexplode(col).alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(stat.alias("m"), F.count(F.lit(1)).alias("n"))
            .groupBy("cell")
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"),
                F.max("n").alias("n"),
            )
            .select("cell", F.col("pm.m").alias("m"), "n")
            .collect()
        )
        by_cell = {r.cell: state_of(list(r.m), int(r.n)) for r in new_rows}
        state = [by_cell.get(i, state[i]) for i in range(k)]
        assigned = assign(base, state)
    return state, assigned


@scoped
def kmeans_fit(
    df: DataFrame, id_col: str, vec_col: str, k: int = 8, iters: int = 3
) -> tuple[list[list[float]], DataFrame]:
    """Deterministic Lloyd's k-means over vector columns — the iterative-
    algorithm pattern on Spark, and the production centroid source for
    `cosine_topk_ivf` (which uses fixed modular centroids only so the
    DuckDB oracle can replay the index).

    Per iteration: centroids (k x dim, driver-held model state — same
    contract as MLlib) broadcast into an argmin assignment (squared
    euclidean), then new centroids as per-(cell, dim) averages
    (:func:`_lloyd`).  Returns (centroids, assignment df (vid, v, cell))."""

    def assign_for(base: DataFrame, cent_rows: list[list[float]]) -> DataFrame:
        # few-centroid models: one-parse unrolled argmin chains
        # (functions/vec.py forms), straight-line doubles per corpus
        # row.  Many-centroid models (r16, the k=64 codebook fits): the
        # centroids ride as ONE array<array<double>> Literal and the
        # argmin is the identical fold per centroid (array_min over
        # struct(dist, cell), index == enumeration order; same values
        # both ways — see KMEANS_UNROLL_MAX).
        if len(cent_rows) <= KMEANS_UNROLL_MAX:
            arms = ", ".join(
                f"struct({sqdist_sql('v', cent, len(cent))} AS dist, {i} AS cell)"
                for i, cent in enumerate(cent_rows)
            )
            cell = F.expr(f"array_min(array({arms})).cell")
        else:
            cell = F.array_min(
                F.transform(
                    lit_double_matrix(cent_rows),
                    lambda c, i: F.struct(
                        sqdist(F.col("v"), c).alias("dist"),
                        i.alias("cell"),
                    ),
                )
            ).getField("cell")
        return base.select("vid", "v", cell.alias("cell"))

    return _lloyd(
        df, id_col, "v", F.col(vec_col).cast("array<double>"), k, iters,
        assign_for, F.avg("x"), lambda m, n: m,
    )


def kmeans_assign(
    df: DataFrame, id_col: str, vec_col: str, k: int = 8, iters: int = 3
) -> DataFrame:
    """(vid, cell) assignment from :func:`kmeans_fit`."""
    _, assigned = kmeans_fit(df, id_col, vec_col, k, iters)
    return assigned.select("vid", "cell")


KMQ_SCALE = 1000  # |x| ≤ 0.58 fixture → |xq| ≤ 578; (xq·n − s)² summed
# over 64 dims stays < 2^63 up to n ≈ 200k rows/cell (sf10 headroom)


@scoped
def kmeans_fit_quantized(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 3,
    scale: int = KMQ_SCALE,
) -> tuple[list[tuple[list[int], int]], DataFrame]:
    """Lloyd's k-means with EXACT integer state — the bit-reproducible
    variant of :func:`kmeans_fit`, and the oracle-replayable face of
    the iterative-algorithm category (`sim_kmeans_cells_rowsonly`
    stays as the raw-double production form).

    Vectors are floor-quantized once (xq_d = floor(x_d·scale), BIGINT);
    centroid state is the per-cell integer SUM vector s plus count n —
    never a float mean, so the state is partition-order-free (integer
    sums commute exactly, where kmeans_fit's F.avg folds partition
    order into the last ulp).  Assignment compares squared euclidean
    distances to the RATIONAL centroid s/n without materializing it:
    D_c = Σ_d (xq_d·n_c − s_cd)² / n_c², with the numerator an exact
    BIGINT fold and the single final division one correctly-rounded
    IEEE op — bit-identical across engines and partitionings, ties
    broken by cell id.  Same scale contract as kmeans_fit: k×dim
    driver-held model state compiled into the assignment plan as
    literals, updates via the same :func:`_lloyd` loop with integer
    sums, empty cells keep their previous state.  Init = first k
    vectors by id.  Local cost is dominated by the k·dim interpreted
    fold itself (~6.8 s at sf0.1 across the 5 training jobs) — linear
    in N with a constant 8×64 per-row term, so the plan holds at scale.

    Returns ([(s, n)] per cell, assignment df (vid, xq, cell))."""

    def assign_for(base: DataFrame, st: list[tuple[list[int], int]]) -> DataFrame:
        # one-parse codegen'd argmin over exact BIGINT numerators; the
        # single final division per cell stays the identical IEEE op
        arms = ", ".join(
            f"struct(CAST({sqnum_sql('xq', s, n)} AS DOUBLE) / {float(n * n)!r}D"
            f" AS dist, {i} AS cell)"
            for i, (s, n) in enumerate(st)
        )
        cell = F.expr(f"array_min(array({arms})).cell")
        return base.select("vid", "xq", cell.alias("cell"))

    xq = F.expr(
        f"transform(cast({vec_col} as array<double>), "
        f"x -> cast(floor(x * {scale}.0) as bigint))"
    )
    return _lloyd(
        df, id_col, "xq", xq, k, iters, assign_for, F.sum("x"), lambda s, n: (s, n)
    )


# -- standing IVF index (k-means centroids + bucketed cell table) -------------


def _nearest_cells(vec: str, cents: list[list[float]], nprobe: int) -> Column:
    """Array of the ``nprobe`` nearest centroid ids (squared euclidean),
    computed against literal centroid arrays — model state is compiled
    into the plan, no join needed for assignment.

    ``vec`` is the array column's NAME; the whole k-way argsort is ONE
    `F.expr` parse of unrolled `sqdist_sql` chains (functions/vec.py)."""
    arms = ", ".join(
        f"struct({sqdist_sql(vec, cent, len(cent))} AS dist, {i} AS cell)"
        for i, cent in enumerate(cents)
    )
    return F.expr(f"slice(array_sort(array({arms})), 1, {nprobe}).cell")


def build_ann_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    table: str = "ann_index_cells",
    k: int = 8,
    iters: int = 3,
    buckets: int = 8,
) -> list[list[float]]:
    """Build a STANDING IVF index: k-means coarse centroids
    (:func:`kmeans_fit`), every corpus vector assigned to its cell, and
    the cell table persisted BUCKETED by ``cell``
    (operators/scale.py ``write_bucketed``) — the shuffle is paid once at
    build time, so every later probe batch joins the corpus with no
    corpus-side Exchange.  Returns the centroid model (driver-held
    k × dim list, the same bounded-model-state contract as k-means) to
    pass to :func:`query_ann_index`."""
    from dask_obj_spark.operators.scale import write_bucketed

    cents, assigned = kmeans_fit(df, id_col, vec_col, k, iters)
    write_bucketed(assigned.select("vid", "v", "cell"), table, "cell", buckets)
    return cents


def query_ann_index(
    spark: SparkSession,
    table: str,
    centroids: list[list[float]],
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    nprobe: int = NPROBE,
) -> DataFrame:
    """ANN top-k against a standing :func:`build_ann_index` table.

    Probes are assigned to their ``nprobe`` nearest cells via literal
    centroid arithmetic (no join), broadcast, and equi-joined on
    ``cell`` against the bucketed corpus — scan → join with NO Exchange
    on the corpus side; the only shuffle in the plan is the final
    per-probe top-k window, which WindowGroupLimit prunes to ≤ k rows
    per probe before the exchange."""
    p = probes.select(
        F.col(id_col).alias("pid"), F.col(vec_col).cast("array<double>").alias("pv")
    ).withColumn("pn", l2_norm(F.col("pv")))
    pcells = p.select(
        "pid", "pv", "pn",
        F.explode(_nearest_cells("pv", centroids, nprobe)).alias("cell"),
    )
    # corpus-side norm computed once per row on the (bucketed) scan,
    # before the join — 1 fold per candidate pair instead of 3
    cells = spark.table(table).withColumn("vn", l2_norm(F.col("v")))
    pairs = cells.join(F.broadcast(pcells), "cell").filter(
        F.col("pid") != F.col("vid")
    )
    return _cos_topk(_cosine_pairs(pairs, dot(F.col("pv"), F.col("v"))), k)


def ann_recall(truth: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """Per-probe recall@k of an ANN result against exact ground truth:
    |approx ∩ truth| / k. The evaluation harness every ANN deployment
    needs before trusting an index — both inputs are (id1, id2) top-k
    tables keyed by probe."""
    t = truth.select("id1", "id2")
    a = approx.select(F.col("id1").alias("aid1"), F.col("id2").alias("aid2"))
    j = t.join(a, (t["id1"] == a["aid1"]) & (t["id2"] == a["aid2"]), "left")
    return (
        j.groupBy("id1")
        .agg(F.round(F.count("aid2") / F.lit(float(k)), 6).alias("recall"))
        .select(F.col("id1").alias("probe_id"), "recall")
    )


# -- power-iteration PCA ------------------------------------------------------


def _dim_matrix(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """The embedding matrix as (vid, i, x) rows, one per coordinate."""
    return df.select(
        F.col(id_col).alias("vid"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("i", "x"),
    )


def _power_components(mat: DataFrame, n_components: int, rounds: int) -> DataFrame:
    """Top `n_components` directions of a (vid, i, x) matrix by power
    iteration, v ← normalize(Xᵀ(X·v)) from the uniform unit vector,
    deflated by Gram-Schmidt against the components already extracted.
    Returns (comp, i, loading): `n_components` × dim rows, each
    component's sign fixed so its largest-|loading| coordinate (ties by
    i) is positive, loadings rounded to 6 decimals.

    Fully distributed where the data is: the (vid, i, x) matrix is
    pinned once and stays put; X·v is a per-vector sum over the
    estimate as an exact literal array
    (:func:`~dask_obj_spark.functions.fastlit.lit_double_array` — repr
    round-trip, bit-identical to `F.lit`), and Xᵀs the mirrored join
    against the broadcast score vector with a per-dim sum — the shuffle
    never carries more than (rows + dims) scalars per round, the layout
    of distributed Lanczos/power solvers.

    Round structure: the iteration state is dim doubles —
    constant-sized (the embedding width) — so each round runs ONE job,
    the corpus-touching back-projection collected as dim rows; Gram-Schmidt, the norm fold,
    the division and the sign fix happen in driver doubles (IEEE-754,
    the same ops Spark's codegen emits; the sum fold order was already
    nondeterministic under partial aggregation, and the dual-SF oracle
    gate certifies the 6-decimal outputs)."""
    mat = pin(mat)
    dim = mat.agg(F.max("i")).first()[0] + 1
    components: list[list[float]] = []
    for _ in range(n_components):
        v = [1.0 / math.sqrt(float(dim))] * dim
        for _r in range(rounds):
            c = F.element_at(lit_double_array(v), F.col("i") + 1)
            s = (
                mat.select("vid", (F.col("x") * c).alias("xc"))
                .groupBy("vid")
                .agg(F.sum(F.col("xc")).alias("s"))
            )
            w = (
                mat.join(F.broadcast(s), "vid")
                .groupBy("i")
                .agg(F.sum(F.col("s") * F.col("x")).alias("w"))
            )
            wi = {r["i"]: r["w"] for r in w.collect()}
            if len(wi) != dim:
                raise ValueError(
                    "power iteration: back-projection lost a dimension "
                    f"({len(wi)} of {dim} present) — input vectors must "
                    "cover every dim index"
                )
            wv = [wi[i] for i in range(dim)]
            for u in components:  # Gram-Schmidt against extracted components
                d = 0.0
                for i in range(dim):
                    d += wv[i] * u[i]
                wv = [wv[i] - d * u[i] for i in range(dim)]
            sq = 0.0
            for x in wv:
                sq += x * x
            norm = math.sqrt(sq)
            v = [x / norm for x in wv]
        components.append(v)
    rows = []
    for ci, u in enumerate(components):
        sgn = -1.0 if u[max(range(dim), key=lambda i: abs(u[i]))] < 0 else 1.0
        rows += [(ci, i, x * sgn) for i, x in enumerate(u)]
    return mat.sparkSession.createDataFrame(rows, "comp int, i int, u double").select(
        "comp", "i", F.round("u", 6).alias("loading")
    )


@scoped
def pca_power_top_component(
    df: DataFrame, id_col: str, vec_col: str, rounds: int = 8
) -> DataFrame:
    """Dominant right-singular direction of the embedding matrix by
    power iteration (:func:`_power_components`, uncentred: the top
    component of the second moment).  Returns (i, loading) — dim rows,
    the unit top component."""
    mat = _dim_matrix(df, id_col, vec_col)
    return _power_components(mat, 1, rounds).select("i", "loading")


@scoped
def pca_top_components(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_components: int = 2,
    rounds: int = 4,
) -> DataFrame:
    """Mean-centered top-k PCA by deflated power iteration
    (:func:`_power_components`) — the real embedding-whitening
    primitive: components are true covariance eigenvectors.  Centring
    is one dim-row aggregate broadcast-subtracted onto the stream.
    Returns (comp, i, loading): ``n_components × dim`` rows."""
    mat = _dim_matrix(df, id_col, vec_col)
    mu = mat.groupBy("i").agg(F.avg("x").alias("mu"))
    cmat = mat.join(F.broadcast(mu), "i").select(
        "vid", "i", (F.col("x") - F.col("mu")).alias("x")
    )
    return _power_components(cmat, n_components, rounds)


# -- label propagation (semi-supervised) --------------------------------------


@scoped
def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 3,
) -> DataFrame:
    """Semi-supervised label propagation over an undirected edge list:
    seed vertices hold their label (clamped); every other vertex takes
    the MAJORITY label of its labeled neighbors each round (ties →
    smallest label) — the weak-supervision primitive for spreading a
    small hand-labeled set over a similarity graph.

    ``edges``: (u, v) one row per undirected edge; ``seeds``: (id, lab,
    seed) with lab NULL for unlabeled vertices.  Per round: one
    neighbor-label count aggregate + one per-vertex argmax window +
    one left join — all keyed on the vertex, reusing one partitioning;
    localCheckpoint per round (the iterative-operator contract shared
    with connected_components/kmeans/BPE)."""
    # materialize the symmetrized edges once: every round consumes them,
    # and an unpinned lineage would re-run the upstream edge
    # construction (e.g. brute-force kNN scoring) per round
    sym = pin(
        edges.select(F.col("u"), F.col("v"))
        .union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    )
    w = Window.partitionBy("id").orderBy(F.desc("c"), F.asc("lab"))

    def step(lab: DataFrame) -> DataFrame:
        nb = (
            sym.join(lab.select(F.col("id").alias("u"), "lab"), "u")
            .filter(F.col("lab").isNotNull())
            .groupBy(F.col("v").alias("id"), "lab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        best = (
            nb.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("id", F.col("lab").alias("new_lab"))
        )
        return lab.join(best, "id", "left").select(
            "id",
            F.when(F.col("seed") == 1, F.col("lab"))
            .otherwise(F.coalesce(F.col("new_lab"), F.col("lab")))
            .alias("lab"),
            "seed",
        )

    lab, _ = fixpoint(pin(seeds), step, None, rounds=rounds)
    return lab.select(
        "id", F.coalesce(F.col("lab"), F.lit(-1)).cast("long").alias("lab")
    )


# -- k-core decomposition -----------------------------------------------------


@scoped
def k_core(edges: DataFrame, k: int, rounds: int | None = None) -> DataFrame:
    """k-core of an undirected graph by iterative peeling: drop every
    vertex with degree < k, recompute degrees on the induced subgraph,
    repeat — the fixpoint is the maximal subgraph where everyone has
    ≥ k neighbors (the density filter used to separate genuine
    similarity communities from sparse hub noise before clustering).

    With ``rounds=None`` (the library default) peeling iterates TO
    CONVERGENCE: each round's edge set is localCheckpointed anyway, so
    the stopping check is one cheap ``count()`` on materialized data,
    and the loop exits the first round the edge count stabilizes —
    returning the true maximal-subgraph fixpoint regardless of graph
    shape (a pendant chain of length L needs L rounds).  Passing an
    explicit ``rounds`` runs that FIXED unroll instead (extra rounds
    past convergence are no-ops), which is what the oracle-paired
    query uses so the SQL oracle can replay the exact round count.

    Per round one degree aggregate + one semi-join on the vertex — the
    shuffle carries (vertex, degree) pairs.  Returns (id, degree)."""
    e = pin(
        edges.select(F.col("u"), F.col("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )

    def peel(e: DataFrame) -> DataFrame:
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.filter(F.col("d") >= k).select("u")
        return (
            e.join(keep, "u")
            .join(keep.select(F.col("u").alias("v")), "v")
            .select("u", "v")
        )

    e, _ = fixpoint(e, peel, DataFrame.count, rounds=rounds)
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    return sym.groupBy(F.col("u").alias("id")).agg(F.count(F.lit(1)).alias("degree"))


# -- multi-source BFS hop distances -------------------------------------------


@scoped
def bfs_hops(
    vertices: DataFrame,
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int,
) -> DataFrame:
    """Multi-source BFS: minimum hop distance from any seed vertex,
    explored `rounds` hops deep — the reachability/diffusion primitive
    (influence radius, contamination spread over a similarity graph,
    "how far is every doc from a trusted set").

    ``vertices``: (id); ``edges``: (u, v) one row per undirected edge;
    ``seeds``: (id) at distance 0.  Vertices unreached within `rounds`
    hops report -1.

    Scale shape: the classic frontier algorithm — each round joins ONLY
    the newly-discovered frontier against the (symmetrized) edge list,
    anti-joins out already-settled vertices, and appends the rest at
    distance r.  Work per round is O(frontier · avg-degree), not
    O(vertices); the settled table is localCheckpointed per round (the
    iterative-operator contract shared with connected_components /
    k_core / label_propagation) and the frontier is derived from the
    pin as the leaf-only filter ``dist == r`` — ONE eager checkpoint
    per hop instead of the r15 shape's two (frontier pinned separately,
    plus a dead pin of the final hop's never-consumed frontier), same
    rows by construction (optimization r16, guide §5).  BFS guarantees
    a vertex is first reached at its minimum hop count, so the
    append-only settled table needs no min-merge.

    The symmetrized edge list localCheckpoints ONCE before the loop: it
    is consumed by every round, and without materialization each round
    re-executes the full upstream edge construction (for a kNN graph
    the entire brute-force scoring — measured ~4x the whole query at
    bench scale before this pin).

    Graph construction: when the input is "the kNN graph of the
    corpus", build edges with `knn_graph_ann` (IVF candidates + exact
    re-rank — the 100 TB path, certified by graph_bfs_ann); the brute
    builder stays only inside oracle-paired queries whose fixed-unroll
    DuckDB replay needs it."""
    sym = pin(
        edges.select("u", "v")
        .union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    )
    dist = pin(
        seeds.select(F.col("id"), F.lit(0).alias("dist"))
        .distinct()
    )
    frontier = dist
    for r in range(1, rounds + 1):
        cand = (
            sym.join(frontier.select(F.col("id").alias("u")), "u")
            .select(F.col("v").alias("id"))
            .distinct()
        )
        new = cand.join(dist, "id", "left_anti").select(
            "id", F.lit(r).alias("dist")
        )
        dist = pin(dist.union(new))
        frontier = dist.filter(F.col("dist") == r)
    return vertices.join(dist, "id", "left").select(
        "id", F.coalesce(F.col("dist"), F.lit(-1)).cast("long").alias("dist")
    )


# -- weighted single-source shortest paths ------------------------------------


@scoped
def weighted_sssp(
    vertices: DataFrame,
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int | None = None,
) -> DataFrame:
    """Multi-source weighted shortest paths (Bellman-Ford min-merge):
    minimum total edge weight from any seed to every vertex — the
    weighted generalization of `bfs_hops` (semantic distance through a
    similarity graph, cheapest-hop routing, influence with per-edge
    cost).

    ``edges``: (u, v, w) one row per undirected edge, ``w`` a
    non-negative BIGINT (callers quantize float weights to integer
    micro-units FIRST, so path sums are exact on every engine and no
    float-summation-order noise can flip a min).  ``seeds``: (id) at
    distance 0.  Unreached vertices report -1.

    With ``rounds=None`` (library default) relaxation iterates TO
    CONVERGENCE — each round's distance table is localCheckpointed, so
    the stopping check (same row count AND same exact BIGINT sum —
    min-merge only ever improves, so the pair is a fixpoint witness) is
    two cheap aggregates on materialized data; paths up to the graph
    diameter are found regardless of shape.  An explicit ``rounds``
    runs that FIXED unroll instead (extra rounds past convergence are
    no-ops), which the oracle-paired query uses so the SQL oracle can
    replay the exact round count — the k_core / bfs_hops contract.

    Scale shape: per round ONE equi-join of the current distance table
    against the symmetrized edge list and ONE min-merge hash aggregate
    — the shuffle carries (vertex, candidate-distance) pairs, never
    payloads.  Unlike frontier BFS the full distance table re-relaxes
    each round (weighted minima can improve through longer paths), the
    standard trade until delta-stepping; the edge list checkpoints once
    before the loop (shared-scan pin, see `bfs_hops`)."""
    sym = pin(
        edges.select("u", "v", "w")
        .union(
            edges.select(
                F.col("v").alias("u"), F.col("u").alias("v"), F.col("w")
            )
        )
    )
    dist = pin(seeds.select("id", F.lit(0).cast("long").alias("dist")).distinct())

    def relax(d: DataFrame) -> DataFrame:
        cand = sym.join(d.select(F.col("id").alias("u"), "dist"), "u").select(
            F.col("v").alias("id"), (F.col("dist") + F.col("w")).alias("dist")
        )
        return d.union(cand).groupBy("id").agg(F.min("dist").alias("dist"))

    def witness(d: DataFrame) -> tuple:
        return tuple(d.agg(F.count(F.lit(1)), F.sum("dist")).first())

    dist, _ = fixpoint(dist, relax, witness, rounds=rounds)
    return vertices.join(dist, "id", "left").select(
        "id", F.coalesce(F.col("dist"), F.lit(-1)).cast("long").alias("dist_micro")
    )


# -- product quantization -----------------------------------------------------

PQ_M = 4  # subspaces (DIM/PQ_M dims each)
PQ_MOD = 11  # deterministic codebook: subvectors of vids with vid % 11 == 1
# Codebook vids are additionally bounded to vid < PQ_CB_CAP: model state
# must be constant-size by construction (the train_sample discipline —
# PLANS.md "models see a slice, the corpus only flows through the encode
# scan").  An UNcapped vid % 11 codebook grows linearly with the corpus,
# making encode work quadratic: the r6 sf1 spot-check measured 15.9× at
# 10× data (BASELINE.md §6).  512 covers every vec_id at the sf0.01
# correctness gate (max 499 — hashes unchanged), so bigger SFs keep the
# SAME bounded 47-codeword model instead of a corpus-sized one.
PQ_CB_CAP = 512


def _pq_sub(dim: int, m: int) -> int:
    """Width of each of the `m` contiguous PQ subspaces of a `dim`-wide
    vector.  A `dim` that `m` does not divide would silently drop the
    trailing coordinates from every code, so it fails instead."""
    if m < 1 or dim % m:
        raise ValueError(
            f"product quantization: dim={dim} does not split into m={m} "
            "equal subspaces"
        )
    return dim // m


def _pq_best(vec: str, s: int, sub: int, book: list[list[float]]) -> Column:
    """Nearest codeword of subspace `s` of the array column `vec`:
    struct(dist, cid), ties to the lower cid.  The codebook rides the
    plan as ONE array<array<double>> Literal: per-codeword literal
    expressions put k·sub nodes per subspace into codegen source, which
    at k=64 × m=8 generated multi-MiB methods Janino chewed on for
    minutes per stage; a transform over the constant matrix evaluates
    the identical sqdist fold per codeword (index == cid in book
    order)."""
    sv = F.slice(F.col(vec), s * sub + 1, sub)
    return F.array_min(
        F.transform(
            lit_double_matrix(book),
            lambda c, i: F.struct(sqdist(sv, c).alias("dist"), i.alias("cid")),
        )
    )


def _pq_codes(vec: str, books: list[list[list[float]]], sub: int) -> Column:
    """The m-code array of `vec`: a fully narrow per-row argmin against
    literal codebooks (zero joins, zero shuffles)."""
    return F.array(
        *[_pq_best(vec, s, sub, book).getField("cid") for s, book in enumerate(books)]
    )


def _adc_table(vec: str, books: list[list[list[float]]], sub: int) -> Column:
    """A probe's ADC table as an array-of-arrays column: pt[s][cid] =
    ‖probe_sub_s − codeword‖², computed narrowly from literal
    codebooks."""
    # one-argument lambda: a second parameter (even defaulted) selects
    # pyspark's (element, index) form; transform calls it immediately,
    # so the loop's slice is the right one
    tables = []
    for s, book in enumerate(books):
        sv = F.slice(F.col(vec), s * sub + 1, sub)
        tables.append(F.transform(lit_double_matrix(book), lambda c: sqdist(sv, c)))
    return F.array(*tables)


def _adc_sum(m: int) -> Column:
    """Approximate distance of a candidate row holding the probe's ADC
    table ``pt`` and its own m-code array ``codes``: Σ_s pt[s][code_s],
    m `element_at` lookups added left-assoc in subspace order — the
    pair surface needs no melt, no pivot and no exchange."""
    terms = [
        F.element_at(F.col("pt").getItem(s), F.col("codes").getItem(s) + 1)
        for s in range(m)
    ]
    adc = terms[0]
    for t in terms[1:]:
        adc = adc + t
    return adc


def _adc_shortlist(scored: DataFrame, n: int) -> DataFrame:
    """The `n` best candidates per probe of ADC-scored rows (probe,
    candidate, adc), ties by candidate id: (probe, candidate) only, so
    the window's exchange moves no dim-sized arrays."""
    probe, cand, _ = scored.columns
    w = Window.partitionBy(probe).orderBy(F.asc("adc"), F.asc(cand))
    return (
        scored.withColumn("slrank", F.row_number().over(w))
        .filter(F.col("slrank") <= n)
        .select(probe, cand)
    )


def _rerank_topk(sl: DataFrame, vecs: DataFrame, k: int) -> DataFrame:
    """Exact top-`k` re-rank of a shortlist: the two vectors of every
    shortlisted (probe, candidate) pair are joined back — only the
    survivors ever touch raw floats — and scored by their dot when
    `vecs` is (vid, v) over unit vectors, or by cosine when it is
    (vid, v, n) over raw vectors with their norms."""
    probe, cand = sl.columns
    vid, vec, *norm = vecs.columns
    p = vecs.select(*[F.col(c).alias("p" + c) for c in vecs.columns])
    b = vecs.select(*[F.col(c).alias("b" + c) for c in vecs.columns])
    score = dot(F.col("p" + vec), F.col("b" + vec))
    if norm:
        score = score / (F.col("p" + norm[0]) * F.col("b" + norm[0]))
    scored = (
        sl.join(p, sl[probe] == p["p" + vid])
        .join(b, sl[cand] == b["b" + vid])
        .select(
            F.col(probe).alias("id1"), F.col(cand).alias("id2"), score.alias("cos_raw")
        )
    )
    return _cos_topk(scored, k)


def _unit_vectors(
    df: DataFrame, id_col: str, vec_col: str, dim: int, out: str = "v"
) -> DataFrame:
    """(vid, `out`) unit-normalized vectors, pinned — euclidean on the
    sphere is cosine ordering.  The norm rides a projected column so it
    folds ONCE per row (an in-lambda norm re-ran the dim-term fold per
    ELEMENT), and the pin spares every consumer (fits,
    encode scan, probe expansion, re-rank join-backs) re-evaluating
    cast+normalize inline: the ivfpq shortlist re-rank was once observed
    evaluating the inlined norm chain INTERPRETED with a per-term array
    cast (thread dump: minutes of single-task Cast.castArray).  Same
    norm and per-element division on both engines, so every double is
    bit-identical to the oracle's."""
    return pin(
        _vectors(df, id_col, vec_col)
        .withColumn("_vn", fixed_norm("v", dim))
        .select("vid", F.transform(F.col("v"), lambda x: x / F.col("_vn")).alias(out))
    )


def pq_fit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = PQ_M,
    k: int = 8,
    iters: int = 3,
    dim: int = DIM,
) -> list[list[list[float]]]:
    """Train product-quantization codebooks: the vector splits into `m`
    contiguous subspaces and each subspace gets its own k-codeword
    k-means model (:func:`kmeans_fit` on the sliced frame) — the
    IVF-PQ compression stage (Jégou et al., TPAMI 2011): memory per
    vector drops from dim×4 bytes to m log2(k) bits, which is what
    makes billion-vector ANN indexes fit a cluster's RAM at 100 TB.

    Driver holds only the m×k×(dim/m) codebook floats (model state,
    same contract as kmeans_fit); the corpus never re-shuffles — each
    subspace fit scans the same frame with a different slice.  Returns
    one codeword list per subspace (index = code id)."""
    sub = _pq_sub(dim, m)
    books = []
    for s in range(m):
        sliced = df.select(
            F.col(id_col),
            F.slice(F.col(vec_col).cast("array<double>"), s * sub + 1, sub).alias(
                "subv"
            ),
        )
        cents, _ = kmeans_fit(sliced, id_col, "subv", k=k, iters=iters)
        books.append(cents)
    return books


def pq_encode(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    books: list[list[list[float]]],
    dim: int = DIM,
) -> DataFrame:
    """Assign every vector its per-subspace nearest codeword →
    (id, code0..code{m-1}, err_micro).  Codebooks are driver-held model
    state compiled into the plan as LITERAL arrays (the kmeans_fit
    assignment pattern): per row, each subspace evaluates k
    struct(dist, cid) terms and ``array_min`` takes the (dist, cid)
    argmin — a fully NARROW map over the corpus with ZERO joins, ZERO
    windows, and ZERO shuffles (asserted in tests/test_scale.py).  At
    100 TB encode-once is the whole cost of standing up a PQ index, so
    the encode plan must be a pure scan→project.  (The previous form —
    broadcast-join against an (s, cid, cv) frame + a row_number window
    over (vid, s) — exchanged an m·k·|corpus| intermediate; the argmin
    is the same, the plan was not.)

    ``err_micro`` is the total squared reconstruction error
    floor-quantized to integer micro-units (the cross-engine-stable
    quantization contract shared with weighted_sssp)."""
    m = len(books)
    sub = _pq_sub(dim, m)
    bests = [
        _pq_best("v", s, sub, book).alias(f"best{s}") for s, book in enumerate(books)
    ]
    enc = _vectors(df, id_col, vec_col).select("vid", *bests)
    err = F.col("best0").getField("dist")
    for s in range(1, m):
        err = err + F.col(f"best{s}").getField("dist")
    return enc.select(
        "vid",
        *[F.col(f"best{s}").getField("cid").alias(f"code{s}") for s in range(m)],
        F.floor(err * 1000000).cast("long").alias("err_micro"),
    )


@scoped
def pq_adc_ranked(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    probe_mod: int,
    m: int = PQ_M,
    mod: int = PQ_MOD,
    dim: int = DIM,
) -> DataFrame:
    """All probe→candidate ADC pairs with per-probe rank — the shared
    kernel behind `sim_pq_adc_topk` and `sim_pq_recall`.  See the query
    docstrings for the plan shape and the broadcast-scope caveat."""
    sub = _pq_sub(dim, m)
    # consumed by the codeword collect, the encode scan, the probe
    # expansion and the candidate surface
    base = _unit_vectors(df, id_col, vec_col, dim)
    # the modular codeword set collapses to ONE sorted struct-array row,
    # broadcast onto the corpus; the per-subspace argmin is a per-row
    # HOF over that array (the zero-corpus-exchange encode plan of
    # `_pq_codes` — the old broadcast-join + row_number window exchanged
    # an m·|cw|·|corpus| intermediate)
    cwsf = F.broadcast(
        base.filter((F.col("vid") % mod == 1) & (F.col("vid") < PQ_CB_CAP))
        .select(
            F.struct(F.col("vid").alias("cid"), F.col("v").alias("cv")).alias("c")
        )
        .groupBy()
        .agg(F.array_sort(F.collect_list("c")).alias("cws"))
    )

    def _subspace_code(s: int):
        # argmin returns the POSITION in the sorted codeword array (the
        # array is cid-sorted, so idx order == cid order and the
        # dist-then-idx tie-break matches the old dist-then-cid one);
        # positions feed the element_at ADC lookups below
        def _term(c, i):
            return F.struct(
                sqdist(
                    F.slice(F.col("v"), s * sub + 1, sub),
                    F.slice(c["cv"], s * sub + 1, sub),
                ).alias("dist"),
                i.alias("idx"),
            )

        return F.array_min(F.transform(F.col("cws"), _term)).getField("idx")

    # encoded corpus: ONE row per vector with its m-code ARRAY, and each
    # probe row carries its own m×|cw| ADC distance table as an
    # array-of-arrays, scored by `_adc_sum`, so the pair surface is
    # never exchanged (the old melted-code equi-join + pivot groupBy
    # shuffled |probes|·|corpus|·m rows)
    enc = base.join(cwsf).select(
        "vid",
        F.array(*[_subspace_code(s) for s in range(m)]).alias("codes"),
    )

    def _subspace_dists(s: int):
        return F.transform(
            F.col("cws"),
            lambda c: sqdist(
                F.slice(F.col("v"), s * sub + 1, sub),
                F.slice(c["cv"], s * sub + 1, sub),
            ),
        )

    probes = (
        base.filter(F.col("vid") % probe_mod == 0)
        .join(cwsf)
        .select(
            F.col("vid").alias("pid"),
            F.array(*[_subspace_dists(s) for s in range(m)]).alias("pt"),
        )
    )
    scored = (
        # no broadcast hint on probes: each row is m·|cw| doubles and
        # the probe COUNT is corpus-growing (1-in-probe_mod) — AQE
        # picks the strategy at demo scale; production is the
        # constant-k trained path (PLANS.md broadcast-audit rule)
        enc.join(probes)
        .filter(F.col("pid") != F.col("vid"))
        .select(
            F.col("pid").alias("id1"), F.col("vid").alias("id2"), _adc_sum(m).alias("adc")
        )
    )
    rw = Window.partitionBy("id1").orderBy(F.asc("adc"), F.asc("id2"))
    return scored.withColumn("rank", F.row_number().over(rw))


@scoped
def matryoshka_recall(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    probe_mod: int = 50,
    dims: tuple[int, ...] = (8, 16, 32),
    full_dim: int = 64,
    k: int = 10,
    probe_cap: int = 512,
) -> DataFrame:
    """Prefix-dimension truncation quality — the Matryoshka-embedding
    readout (Kusupati et al., "Matryoshka Representation Learning",
    NeurIPS 2022): recall@k of top-k-by-prefix-cosine against the
    full-dimension ground truth, one row per truncation width.  This
    is the table a storage/latency decision reads before truncating a
    100 TB embedding column to its first m dims (a 64→16 cut is 4×
    less I/O and ADC work everywhere downstream).

    Same exact-harness shape as `cosine_ranked_raw`, with the
    PQ_CB_CAP probe discipline on top: probes are ``id % probe_mod ==
    0 AND id < probe_cap`` — a CONSTANT probe set at any SF (an
    uncapped 1-in-probe_mod probe slice grows with the corpus, making
    pair volume quadratic: the first sf1 reading measured 19.6× at
    10× data; capped, pair volume is linear in N and the readout is
    the same truncation curve from a fixed probe panel).  512 covers
    every vec_id at the sf0.01 correctness gate, so oracle hashes are
    unchanged.  The corpus side fans out with a row-preserving
    repartition ahead of the interpreted scoring stage, and prefix
    NORMS are precomputed per vector per width before the pair join —
    per pair only the len(dims)+1 prefix dots remain.  Per-width rankings melt out of
    ONE pair pass (explode of a literal struct array — the pair
    surface is scanned once, not once per width), and recall is
    integer arithmetic end to end (hits·1e6 DIV probes·k), so no
    cross-engine float summation exists outside the bit-replayable
    left-assoc cosine chains."""
    ncores = df.sparkSession.sparkContext.defaultParallelism
    widths = tuple(dims) + (full_dim,)
    raw0 = _vectors(df, id_col, vec_col)

    def with_norms(frame: DataFrame, pfx: str) -> DataFrame:
        # codegen'd prefix norms via the CHAINED squared-sum columns
        # (optimization r16, guide §7.3: the r15 per-width unrolled
        # norms re-unrolled every width from element 1 — Σwidths terms
        # per side; the chain shares each prefix, max(widths) terms).
        # SQRT over the chained CASE column takes the same branch and
        # the same fold as a per-width prefix norm would.
        frame, sq_cols = chained_prefix_dots(frame, "v", "v", widths, pfx + "sq")
        for m in widths:
            frame = frame.withColumn(
                f"{pfx}n{m}", F.expr(f"SQRT(`{sq_cols[m]}`)")
            )
        return frame.drop(*sq_cols.values())

    base = with_norms(raw0.repartition(ncores), "")
    # Collect the capped probe panel ONCE and rebuild it as a local
    # broadcast relation (the heavy_hitters/maxsim_topk pattern, r9
    # advice): len(rows) serves as both the MAX_PROBES guard and the
    # n_probes literal, and the pair join below never re-derives the
    # probe slice from the corpus scan.  Bounded by construction:
    # vid < probe_cap caps the collect at probe_cap rows.
    probe_rows = raw0.filter(
        (F.col("vid") % probe_mod == 0) & (F.col("vid") < probe_cap)
    ).collect()
    n_probes = len(probe_rows)
    if n_probes > MAX_PROBES:
        raise ValueError(
            f"matryoshka_recall: probe set exceeds MAX_PROBES={MAX_PROBES} "
            "(exact-oracle harness contract) — raise probe_mod"
        )
    spark = df.sparkSession
    probes = with_norms(
        spark.createDataFrame(probe_rows, raw0.schema), "p"
    ).select(
        F.col("vid").alias("pid"),
        F.col("v").alias("pv"),
        *[F.col(f"pn{m}") for m in widths],
    )
    pairs = base.join(F.broadcast(probes), F.col("pid") != F.col("vid"))
    # chained per-pair prefix dots (r16): the r15 arms re-unrolled every
    # width from element 1 inside the explode — Σwidths = 120 terms per
    # pair; the chain computes 64 and shares each prefix across arms
    pairs, d_cols = chained_prefix_dots(pairs, "pv", "v", widths, "p")
    arms = [
        F.struct(
            F.lit(m).cast("bigint").alias("m"),
            (
                F.col(d_cols[m]) / (F.col(f"pn{m}") * F.col(f"n{m}"))
            ).alias("cs"),
        )
        for m in widths
    ]
    melted = pairs.select(
        F.col("pid").alias("id1"),
        F.col("vid").alias("id2"),
        F.explode(F.array(*arms)).alias("e"),
    ).select("id1", "id2", F.col("e.m").alias("m"), F.col("e.cs").alias("cs"))
    w = Window.partitionBy("m", "id1").orderBy(F.desc("cs"), F.asc("id2"))
    # pin the per-width top-k table ONCE (optimization r16, the b19/b23
    # §5 recipe): the truth/hits legs below self-join `top`, so without
    # the pin the ENTIRE pair-scoring + window subplan is embedded (and
    # executed) twice — plans/r15/b39_matryoshka_after.txt shows the two
    # mirrored BroadcastNestedLoopJoin legs.  Bounded by construction:
    # ≤ len(widths)·n_probes·k rows, n_probes ≤ MAX_PROBES.
    top = pin(
        melted.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("m", "id1", "id2")
    )
    truth = top.filter(F.col("m") == full_dim).select(
        F.col("id1").alias("t1"), F.col("id2").alias("t2")
    )
    hits = (
        top.filter(F.col("m") != full_dim)
        .join(
            truth,
            (F.col("id1") == F.col("t1")) & (F.col("id2") == F.col("t2")),
        )
        .groupBy("m")
        .agg(F.count(F.lit(1)).cast("bigint").alias("hits"))
    )
    mframe = spark.createDataFrame(
        [(int(m),) for m in dims], "m bigint"
    ).join(hits, "m", "left")
    return mframe.select(
        "m",
        F.lit(int(n_probes)).cast("bigint").alias("n_probes"),
        F.coalesce(F.col("hits"), F.lit(0)).cast("bigint").alias("hits"),
        F.expr(
            f"coalesce(hits, CAST(0 AS BIGINT)) * CAST(1000000 AS BIGINT) "
            f"DIV (CAST({int(n_probes)} AS BIGINT) * CAST({k} AS BIGINT))"
        ).alias("recall_x1m"),
    )


@scoped
def pq_adc_trained_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    books: list[list[list[float]]],
    probe_mod: int,
    k: int = 10,
    shortlist: int = 50,
    dim: int = DIM,
) -> DataFrame:
    """PQ-ADC top-k with TRAINED codebooks + shortlist re-rank — the
    tuned production read path the round-5 recall sweep selected
    (PLANS.md "PQ recall engineering"): codebooks are constant
    m·k model floats (a size-safe broadcast by construction, unlike
    the corpus-growing modular codeword table of the oracle-replayable
    twin `pq_adc_ranked`), ADC assembles approximate distances from m
    code lookups, the best `shortlist` candidates per probe get exact
    cosine re-ranks against raw floats, and the final top-k is emitted
    with exact scores.

    Vectors are unit-normalized first (euclidean on the sphere = cosine
    ordering).  At 100 TB: encode is a fully NARROW per-row
    literal-codebook argmin (zero joins, zero shuffles — `_pq_codes`)
    written ONCE as a standing m-codes table; a probe
    batch computes one m·k distance table; per-candidate cost is m
    lookups + an m-term add; only `shortlist` raw vectors per probe
    are ever touched."""
    sub = _pq_sub(dim, len(books))
    base = _unit_vectors(df, id_col, vec_col, dim)
    # encoded corpus: ONE row per vector with its m-code ARRAY (the
    # zero-exchange encode plan); probes carry their own m×k ADC
    # distance table as an array-of-arrays — both sides narrow, so the
    # ADC scan is one cross join (probe batch bounded by contract; no
    # broadcast hint — AQE picks the strategy, PLANS.md audit rule)
    # scored by `_adc_sum` (one fewer shuffle of the pair surface than
    # the previous melted-code equi-join + pivot groupBy).
    enc = base.select("vid", _pq_codes("v", books, sub).alias("codes"))
    probes = base.filter(F.col("vid") % probe_mod == 0).select(
        F.col("vid").alias("pid"), _adc_table("v", books, sub).alias("pt")
    )
    scored = (
        enc.join(probes)
        .filter(F.col("pid") != F.col("vid"))
        .select(
            F.col("pid").alias("id1"),
            F.col("vid").alias("id2"),
            _adc_sum(len(books)).alias("adc"),
        )
    )
    raw = _vectors(df, id_col, vec_col).withColumn("n", l2_norm(F.col("v")))
    return _rerank_topk(_adc_shortlist(scored, shortlist), raw, k)


@scoped
def ivfpq_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    probe_mod: int,
    k: int = 10,
    nprobe: int = 4,
    m: int = 8,
    codebook_k: int = 64,
    shortlist: int = 100,
    centroids: list[list[float]] | None = None,
    books: list[list[list[float]]] | None = None,
    kmeans_k: int | None = None,
    iters: int = 2,
    dim: int = DIM,
    train_sample: int = 100_000,
    n_rows: int | None = None,
) -> DataFrame:
    """IVF-PQ top-k — the composed Faiss-style read path (Jégou et al.,
    TPAMI 2011) and the canonical 100 TB ANN plan: coarse k-means cells
    restrict WHICH candidates are touched (IVF), product-quantization
    codes decide their order without reading raw floats (ADC), and only
    the per-probe ``shortlist`` survivors get exact cosine re-ranks.

    Plan shape, stage by stage:
    - **index build** (encode-once at scale): one narrow scan emits per
      vector its cell id (literal-centroid argmin, `_nearest_cells`)
      and its m-code ARRAY (literal-codebook argmin, `_pq_codes`).
      No joins, no windows, no shuffles.
    - **probe expansion**: each probe row computes, narrowly, its
      ``nprobe`` nearest cells and its own m×k ADC distance table as an
      array-of-arrays column — model state is plan literals, so nothing
      joins and nothing grows with the corpus.
    - **candidate generation**: ONE equi-join on the cell id (the IVF
      bound: candidate volume is cell-sized, never all-pairs).
    - **ADC scoring**: per candidate row, ``adc = Σ_s pt[s][code_s]`` —
      m `element_at` lookups + a left-assoc m-term add, fully narrow
      (`_adc_sum`: no melt, no pivot groupBy).  The only exchanges
      after the cell join are
      the two per-probe top-N windows (shortlist, then final k).
    - **re-rank**: exact cosine on unit-normalized vectors for the
      shortlist only.

    Trained model state (centroids + codebooks) is constant-size driver
    floats; ``kmeans_k=None`` auto-sizes cells toward √N (knn_graph_ann
    rule), and both fits train on a BOUNDED deterministic sample
    (``train_sample`` rows via modular id selection — Faiss practice:
    a 100 TB corpus never streams through Lloyd's loop; the models see
    a representative slice and the full corpus only flows through the
    narrow encode/assign scan).  Rows-only registration
    (`sim_ivfpq_recall_rowsonly`): trained float models aren't
    SQL-replayable; the modular-deterministic twins (sim_ivf_recall /
    sim_pq_recall) carry the hash contract, and the recall floor is
    pinned in tests/test_dedup.py."""
    sub = _pq_sub(dim, m if books is None else len(books))
    # the normalized corpus feeds the two fits, the encode scan, the
    # probe expansion and both re-rank sides
    base = _unit_vectors(df, id_col, vec_col, dim, "nv")
    if centroids is None or books is None:
        # auto-sizing needs a row count; accept a caller hint (catalog
        # statistics / known table size) so a bare call on a 100 TB
        # table doesn't pay a full count scan before every index build
        n = n_rows if n_rows is not None else df.count()
        if kmeans_k is None:
            kmeans_k = max(8, min(64, int(n**0.5 / 4)))
        train = base
        if n > train_sample:
            # deterministic modular sample: ~train_sample rows, no
            # shuffle, replayable across runs (unlike limit())
            train = base.filter(
                F.col("vid") % int(-(-n // train_sample)) == 0
            )
        if centroids is None:
            centroids, _ = kmeans_fit(train, "vid", "nv", k=kmeans_k, iters=iters)
        if books is None:
            books = pq_fit(
                train, "vid", "nv", m=m, k=codebook_k, iters=iters, dim=dim
            )
    # index side carries ONLY (vid, cell, codes) — the raw/normalized
    # floats never enter the candidate surface (the whole point of ADC);
    # they are joined back for the shortlist survivors only
    cells = base.select(
        "vid",
        _nearest_cells("nv", centroids, 1).getItem(0).alias("cell"),
        _pq_codes("nv", books, sub).alias("codes"),
    )
    pcells = base.filter(F.col("vid") % probe_mod == 0).select(
        F.col("vid").alias("pid"),
        _adc_table("nv", books, sub).alias("pt"),
        F.explode(_nearest_cells("nv", centroids, nprobe)).alias("cell"),
    )
    cand = cells.join(pcells, "cell").filter(F.col("pid") != F.col("vid"))
    # no dedup needed: every vector lives in exactly ONE cell and a
    # probe's nprobe cells are distinct, so (pid, vid) pairs are unique
    # by construction — a dropDuplicates here would be a pure extra
    # shuffle of the candidate set.  The per-probe ADC table `pt` (m·k
    # doubles) rides the candidate rows — bounded by the model, not the
    # corpus; the shortlist exchange moves (pid, vid, adc) only.
    scored = cand.select("pid", "vid", _adc_sum(len(books)).alias("adc"))
    return _rerank_topk(_adc_shortlist(scored, shortlist), base, k)


# -- link prediction ----------------------------------------------------------


@scoped
def link_prediction_jaccard(
    edges: DataFrame, min_score: float = 0.2
) -> DataFrame:
    """Common-neighbor link prediction over an undirected edge list:
    for every non-adjacent pair sharing at least one neighbor, the
    Jaccard coefficient of their neighborhoods — the classic missing-
    edge / recommendation score ("these two docs are not linked but
    their neighborhoods overlap heavily").

    Plan: candidate pairs come from the WEDGE join (two hops through a
    shared neighbor, a < b), counted per pair; degrees join in as a
    broadcast; existing edges are anti-joined out.  The wedge join's
    cost is sum-of-squared-degrees — bounded on a kNN graph (degree ≤
    2k by construction); on organic graphs the standard hub cap (drop
    vertices above a degree ceiling before the wedge) applies, exactly
    like the hot-shingle cap in dedup."""
    # four consumers (deg, both wedge legs, the anti-join) → pin the
    # input edge list once; the symmetrization/projections downstream
    # are cheap unions over the materialized table
    edges = pin(edges)
    sym = edges.select("u", "v").union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    e1 = sym.select(F.col("u").alias("a"), F.col("v").alias("w"))
    e2 = sym.select(F.col("u").alias("w"), F.col("v").alias("b"))
    wedges = (
        e1.join(e2, "w")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    norm_edges = edges.select(
        F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
    ).distinct()
    cand = wedges.join(norm_edges, ["a", "b"], "left_anti")
    da = deg.select(F.col("u").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("u").alias("b"), F.col("d").alias("db"))
    score = F.round(
        F.col("common") / (F.col("da") + F.col("db") - F.col("common")), 6
    )
    # degree tables are per-vertex: plain joins (AQE decides)
    return (
        cand.join(da, "a")
        .join(db, "b")
        .select("a", "b", "common", score.alias("score"))
        .filter(F.col("score") >= min_score)
    )


# -- random-projection (JL) dimensionality reduction --------------------------

RP_DIM = 16  # target dimensionality
_rp_rng = random.Random(7)
RP_PLANES: list[list[float]] = [
    [1.0 if _rp_rng.random() < 0.5 else -1.0 for _ in range(DIM)]
    for _ in range(RP_DIM)
]


def _sign_project(v: Column, signs: list[list[float]]) -> Column:
    """Project the array column `v` through a ±1 sign matrix scaled by
    1/√rows: one literal-sign dot fold per output coordinate, the
    matrix shipped as plan literals."""
    scale = F.lit(1.0 / math.sqrt(len(signs)))
    return F.array(*[dot(v, lit_double_array(row)) * scale for row in signs])


def random_project(v: Column) -> Column:
    """Project a DIM-vector to RP_DIM dims with the fixed ±1 matrix
    RP_PLANES scaled by 1/sqrt(RP_DIM) — the Johnson-Lindenstrauss
    sketch that approximately preserves pairwise distances."""
    return _sign_project(v, RP_PLANES)


# -- k-center coreset selection ----------------------------------------------


def kcenter_coreset(
    df: DataFrame, id_col: str, vec_col: str, k: int = 6
) -> DataFrame:
    """Greedy k-center coreset selection over an embedding column — the
    farthest-point-first diversity heuristic (Gonzalez 1985; 2-approx
    for the k-center radius), the standard "pick a maximally diverse
    seed set" step in corpus curation / active-learning pipelines.

    Round 1 seeds with the min-id vector; each later round picks the
    point FARTHEST from the already-chosen set (min over centers of the
    exact squared euclidean distance, max over points, ties by id) and
    reports that distance — the coverage radius at pick time.

    Scale shape at 100 TB: the kmeans_fit template — centers circulate
    as k·dim literal floats, each round is ONE corpus scan with a
    per-row least() chain over the center literals into a global
    TakeOrdered(1) (no shuffle of corpus rows, no N-sized state, no
    all-pairs); driver state is k rows.  Total work k scans — for the
    coreset sizes this heuristic is used at (seed sets, not
    clusterings), the scan count is the constant k of the query.

    Numerics: sqdist is the shared left-assoc fold, least() chains in
    pick order, and the reported radius is floor-quantized to integer
    micro-units — every pick decision and output value replays
    bit-for-bit on the DuckDB oracle's identically-unrolled rounds.
    """
    base = _vectors(df, id_col, vec_col)
    first = base.orderBy(F.asc("vid")).limit(1).collect()[0]
    centers: list[tuple[int, list[float], float]] = [
        (first["vid"], list(first["v"]), 0.0)
    ]
    for _ in range(1, k):
        # one-parse codegen'd least-of-sqdist chain, nested in pick
        # order exactly like the F.least fold it replaces (and like the
        # oracle's unrolled rounds) — bit-identical doubles
        mind_sql = sqdist_sql("v", centers[0][1], len(centers[0][1]))
        for _, vec, _ in centers[1:]:
            mind_sql = f"least({mind_sql}, {sqdist_sql('v', vec, len(vec))})"
        mind = F.expr(mind_sql)
        pick = (
            base.select("vid", "v", mind.alias("mind"))
            .orderBy(F.desc("mind"), F.asc("vid"))
            .limit(1)
            .collect()[0]
        )
        centers.append((pick["vid"], list(pick["v"]), pick["mind"]))
    rows = [
        (r + 1, int(vid), int(math.floor(1000000.0 * d)))
        for r, (vid, _, d) in enumerate(centers)
    ]
    return df.sparkSession.createDataFrame(
        rows, "round int, vid bigint, dist_x1m bigint"
    )


# -- binary quantization (sign-bit codes + Hamming shortlist) -----------------


def binary_quantize(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int = DIM,
    thresholds: list[int] | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Per-dimension sign-bit codes packed 32-to-a-BIGINT: the 32×
    compression path of modern vector stores (binary quantization with
    Hamming-distance candidate generation; see also SimHash,
    operators/dedup.py — this is its *per-dimension threshold* cousin
    for raw embedding columns rather than hyperplane projections).

    Reference has no vector ops (SURVEY.md §2 Tier E) — Tier-E surface.

    Bit rule, integer-exact on both engines: quantize each component to
    micro-units ``q_j = floor(v_j · 1e6)`` (BIGINT, per-row, exact),
    learn per-dimension totals ``T_j = Σ q_j`` (BIGINT sum — order-free,
    no float-sum hazard), and set bit j iff ``q_j · n > T_j`` (strictly
    above the dimension mean, compared in integers — no division, no
    rounding ambiguity).  Packing adds ``bit << (j mod 32)`` into word
    ``j div 32`` — non-negative powers of two, left-assoc, exact; 32
    bits per 64-bit word so no sign-bit edge cases in either engine.

    Plan shape (the narrow-encode discipline of `_pq_codes`): the
    threshold fit is ONE
    explode + hash-agg over (dim) — d output rows, map-side combined —
    collected as bounded model state (d BIGINTs); the encode itself is
    a zero-exchange narrow scan against literal threshold arrays.  At
    100 TB the fit is a single pass producing d rows and the encode
    never shuffles; pass precomputed ``thresholds``/``n_rows`` (e.g.
    from a saved model) to skip the fit entirely.

    Overflow note: ``q_j · n`` stays in BIGINT for |v| ≤ ~1e3 up to
    n ≈ 9e9 rows; beyond that scale, fit thresholds on a bounded
    modular sample (the kmeans_fit/pq_fit train_sample pattern).

    Returns (vid, words: array<bigint> of length ceil(dim/32)).
    """
    raw = _vectors(df, id_col, vec_col)
    q = F.transform(F.col("v"), lambda x: F.floor(x * F.lit(1000000.0)).cast("bigint"))
    if thresholds is None or n_rows is None:
        fit = (
            raw.select(F.posexplode(q).alias("j", "qv"))
            .groupBy("j")
            .agg(F.sum("qv").alias("t"), F.count("*").alias("c"))
            .collect()
        )
        thresholds = [0] * dim
        for r in fit:
            thresholds[r["j"]] = int(r["t"])
        n_rows = int(fit[0]["c"]) if fit else 0
    # one parsed array literal instead of 64 py4j lit+cast round-trips
    # (identical array<bigint> literal; 'L' is the SQL bigint suffix)
    tlit = F.expr("array(" + ", ".join(f"{int(t)}L" for t in thresholds) + ")")
    n = F.lit(int(n_rows)).cast("bigint")
    qcol = q
    bits = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: (F.element_at(qcol, j + 1) * n > F.element_at(tlit, j + 1)).cast(
            "bigint"
        ),
    )
    nwords = (dim + 31) // 32

    def _word(w: int) -> Column:
        # unrolled 32-term integer add of literal powers of two —
        # non-negative, exact, and order-free (so the oracle's grouped
        # SUM over bit<<pos replays to the identical BIGINT)
        acc = F.lit(0).cast("bigint")
        for b in range(32):
            j = w * 32 + b
            if j >= dim:
                break
            acc = acc + F.when(
                F.element_at(bits, j + 1) == 1, F.lit(1 << b).cast("bigint")
            ).otherwise(F.lit(0).cast("bigint"))
        return acc

    words = F.array(*[_word(w) for w in range(nwords)])
    return raw.select("vid", F.col("v"), bits.alias("bits"), words.alias("words"))


def binary_hamming_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    probe_mod: int,
    k: int = 10,
    shortlist: int = 100,
    dim: int = DIM,
    thresholds: list[int] | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Binary-quantized ANN read path: Hamming-distance candidate
    generation over packed sign-bit words, exact cosine re-rank for the
    per-probe ``shortlist`` survivors only.

    The 100 TB plan: the standing index is (vid, words) — ceil(d/32)
    BIGINTs per vector, 32× smaller than the float32 raws, so the
    candidate surface streams ~2 words/row against a broadcast probe
    table; ``hamming`` is a zip_with xor→popcount fold (pure integer,
    whole-stage codegen).  Raw vectors enter ONLY for the shortlist
    re-rank via join-back (the `_rerank_topk` payload discipline: no
    dim-sized arrays ride the shortlist exchange).

    Cross-engine exactness: Hamming is integer (xor + bit_count), the
    shortlist is (hamming asc, vid) row_number, and the re-rank orders
    by ``floor(cosine·1e6)`` on the shared left-assoc double fold —
    every comparison the query makes is on integers.

    Probe side is bounded by the MAX_PROBES harness contract.
    """
    enc = binary_quantize(df, id_col, vec_col, dim, thresholds, n_rows)
    index = enc.select("vid", "words")
    # collect-once guard + local probe relation (the cosine_ranked_raw /
    # maxsim_topk pattern): one job instead of a count() guard plus a
    # second probe scan of the encode plan
    probes0 = enc.filter(F.col("vid") % probe_mod == 0).select(
        F.col("vid").alias("pid"), F.col("words").alias("pwords")
    )
    probe_rows = _checked_probe_rows(probes0, "binary_hamming_topk")
    probes = df.sparkSession.createDataFrame(probe_rows, probes0.schema)
    # codegen'd kernel over the candidate surface (optimization r16,
    # guide §4.1): the interpreted aggregate/zip_with fold paid a
    # per-pair lambda walk on every (probe, vector) candidate — the
    # unrolled xor→bit_count chain is value-identical (integer adds)
    # and whole-stage-codegen'd
    nwords = (dim + 31) // 32
    ham = fixed_hamming("pwords", "words", nwords).cast("bigint")
    cand = (
        index.join(F.broadcast(probes), F.col("pid") != F.col("vid"))
        .select("pid", "vid", ham.alias("hamming"))
    )
    slw = Window.partitionBy("pid").orderBy(F.asc("hamming"), F.asc("vid"))
    sl = (
        cand.withColumn("slrank", F.row_number().over(slw))
        .filter(F.col("slrank") <= shortlist)
        .select("pid", "vid", "hamming")
    )
    # per-VECTOR norms before the join (r16, guide §2.3): the norm fold
    # runs once per vector instead of once per shortlist pair, and the
    # pair projection shrinks to a single unrolled dot chain —
    # dot / (pnorm * rnorm) is the same sqrt-then-multiply-then-divide
    # tree `fixed_cosine` builds, so cos_x1m is bit-identical
    raw = df.select(
        F.col(id_col).alias("rvid"),
        F.col(vec_col).cast("array<double>").alias("rv"),
    ).withColumn("rnorm", fixed_norm("rv", dim))
    p = raw.select(
        F.col("rvid").alias("pvid"),
        F.col("rv").alias("pv"),
        F.col("rnorm").alias("pnorm"),
    )
    rr = (
        sl.join(p, sl["pid"] == p["pvid"])
        .join(raw, sl["vid"] == raw["rvid"])
        .select(
            "pid",
            "vid",
            "hamming",
            F.floor(
                fixed_dot("pv", "rv", dim)
                / (F.col("pnorm") * F.col("rnorm"))
                * F.lit(1000000.0)
            ).cast("bigint").alias("cos_x1m"),
        )
    )
    w = Window.partitionBy("pid").orderBy(F.desc("cos_x1m"), F.asc("vid"))
    return (
        rr.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("pid").alias("id1"),
            F.col("vid").alias("id2"),
            "hamming",
            "cos_x1m",
            "rank",
        )
    )


# -- random projection (Johnson-Lindenstrauss dimensionality reduction) -------


def _rp_signs(out_dim: int, dim: int, salt: str = "rp") -> list[list[float]]:
    """Deterministic ±1 sign matrix from md5 — computed once at plan
    time, embedded as literals in BOTH engines, so the projection is a
    fixed linear map with no cross-engine randomness to reconcile."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{i}_{j}#{salt}".encode()).hexdigest(), 16) % 2 == 0
            else -1.0
            for j in range(dim)
        ]
        for i in range(out_dim)
    ]


def random_projection(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    out_dim: int = 16,
    dim: int = DIM,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: dim → out_dim via a
    fixed ±1/√r sign matrix (Achlioptas 2003 database-friendly variant
    — sign matrices preserve pairwise distances in expectation exactly
    like Gaussian ones, and cost only adds/subtracts).

    Reference has no vector ops (SURVEY.md §2 Tier E) — Tier-E surface.

    The 100 TB story: projection is a ZERO-exchange narrow map — each
    output coordinate is one literal-sign dot fold over the row's own
    array; no model state circulates (the sign matrix is plan
    literals), so this is the cheap front-end that shrinks 100 TB of
    raw embeddings to out_dim/dim of their size before any pairwise
    stage (LSH, kmeans, dedup) touches them.

    Returns (vid, y: array<double> of length out_dim).
    """
    return _vectors(df, id_col, vec_col).select(
        "vid", _sign_project(F.col("v"), _rp_signs(out_dim, dim)).alias("y")
    )


# -- rank-biased overlap between two retrieval runs ----------------------------

RBO_P = 0.9


def rbo_vs_exact(
    exact: DataFrame, approx: DataFrame, k: int = 10, p: float = RBO_P
) -> DataFrame:
    """Rank-Biased Overlap (Webber et al., "A Similarity Measure for
    Indefinite Rankings", TOIS 2010) between an exact and an
    approximate top-k ranking, per probe — the RANK-AWARE companion to
    set recall: two ANN configurations with identical recall@10 can
    differ wildly in whether the misses sit at rank 1 or rank 10, and
    RBO (top-weighted, p^(d-1) per depth) is the standard readout.

    Inputs are (id1, id2, rank) rankings.  Per probe, both lists
    assemble order-exactly (array_sort over (rank, id) structs), then
    the truncated RBO sum unrolls as a FIXED k-term left-assoc chain
    of intersect-prefix sizes — integer set sizes times the exact IEEE
    powers of p, identical on both engines, floor-quantized at the
    end.  Join is probe-keyed; everything after the two ranking
    aggregates is |probes|-sized."""

    def ranked_list(df: DataFrame, name: str) -> DataFrame:
        arr = F.transform(
            F.array_sort(F.collect_list(F.struct("rank", "id2"))),
            lambda s: s["id2"],
        )
        return df.groupBy("id1").agg(arr.alias(name))

    a = ranked_list(exact, "ea")
    b = ranked_list(approx, "aa")
    j = a.join(b, "id1")
    chain = F.lit(0.0)
    for d in range(1, k + 1):
        ov = F.size(
            F.array_intersect(
                F.slice(F.col("ea"), 1, d), F.slice(F.col("aa"), 1, d)
            )
        )
        chain = chain + F.lit(float(p) ** (d - 1)) * (
            ov.cast("double") / F.lit(float(d))
        )
    rbo = chain * F.lit(1.0 - float(p))
    return j.select(
        F.col("id1").alias("probe_id"),
        F.floor(rbo * F.lit(1000000.0)).cast("bigint").alias("rbo_x1m"),
    )
