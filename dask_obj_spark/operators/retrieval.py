"""Hybrid retrieval: rank fusion and ranking-quality evaluation.

The reference has no retrieval surface (its only imports are
dask/toolz/operator — /root/reference/src/dask_obj/core.py:3-10); this
module is part of the training-data-pipeline tier the engine needs at
100 TB: mining a corpus with BOTH a lexical leg (BM25,
operators/text.py) and a semantic leg (cosine ANN,
operators/similarity.py), fusing the two rankings, and scoring any
approximate index against exact ground truth with graded (NDCG) rather
than set-based (recall) credit.

Spark-first design notes:

- **RRF fusion** is algebra over two *already top-k* tables (≤ N rows
  each): a full outer join on the doc id + ``1/(K+rank)`` sums.  All the
  heavy lifting stays in the legs, which are the scale-shaped plans
  audited in PLANS.md (posting-pruned BM25, broadcast-probe cosine); the
  fusion itself is O(top-N) regardless of corpus size.
- **NDCG** joins the approx top-k against the exact top-k per probe and
  folds the log2-discounted gains — two tiny hash aggregates keyed by
  probe id.  Like `ann_recall` (similarity.py:641) both inputs are
  (id1, id2, rank) tables; unlike recall, position matters.

Cross-engine determinism: every ranking is computed over either
bit-identical floats (the cosine leg: left-associated fold, see
functions/vec.py) or 6-dp-rounded scores (the BM25 leg), with the doc
id as the final tie-break, so Spark and DuckDB rank identically; the
discounted-gain sums are ≤ k terms and rounded to 6 dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dask_obj_spark.functions.fastlit import sql_double
from dask_obj_spark.functions.vec import SPARK, Dialect, dot_sql, norm_sql
from dask_obj_spark.operators.similarity import DIM

RRF_K = 60  # the standard reciprocal-rank-fusion constant


def rrf_fuse(
    lexical: DataFrame,
    semantic: DataFrame,
    id_col: str = "doc_id",
    k: int = RRF_K,
) -> DataFrame:
    """Reciprocal-rank fusion of two top-N rankings.

    Inputs are (id, lex_rank) / (id, sem_rank) tables — each already a
    top-N result, so this plan touches O(N) rows however large the
    corpus was.  A doc present in only one list scores only that list's
    term (the standard RRF contract)."""
    lx = lexical.select(F.col(id_col), F.col("lex_rank"))
    sm = semantic.select(F.col(id_col).alias("_sid"), F.col("sem_rank"))
    # ranks are nullable on a one-list doc: coalesce to -1 and cast
    # bigint so the driver's pandas-mediated hash never sees a float64
    # promotion ("5.0" vs "5" — verify SKILL.md round-3 gotcha)
    fused = lx.join(sm, lx[id_col] == sm["_sid"], "full_outer").select(
        F.coalesce(lx[id_col], sm["_sid"]).alias(id_col),
        F.coalesce("lex_rank", F.lit(-1)).cast("bigint").alias("lex_rank"),
        F.coalesce("sem_rank", F.lit(-1)).cast("bigint").alias("sem_rank"),
        F.round(
            F.coalesce(1.0 / (F.lit(k) + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(k) + F.col("sem_rank")), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )
    return fused


def ndcg_at_k(truth: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """Per-probe NDCG@k of an approximate ranking against exact ground
    truth (binary relevance, log2 position discount).

    Both inputs are (id1, id2, rank) top-k tables keyed by probe —
    exactly the `ann_recall` contract (similarity.py:641) but graded:
    a relevant hit at rank 1 is worth ~3× one at rank 9.  IDCG is
    computed from the truth table's own ranks, so probes with < k true
    neighbors normalize correctly.  Plan: one semi-join + two tiny hash
    aggregates keyed by probe id — O(probes · k) rows throughout.

    The relevance set and IDCG both come from the SAME truth slice
    (rank <= k): a truth table deeper than k must not count its tail as
    relevant while IDCG normalizes over only k positions — that
    inconsistency would let NDCG exceed 1.0 (r13 review finding; the
    registered caller passes truth depth == k, so its hashes are
    unchanged)."""
    gain = lambda r: 1.0 / F.log2(F.col(r) + 1.0)  # noqa: E731
    truth_k = truth.filter(F.col("rank") <= k)
    idcg = truth_k.groupBy("id1").agg(F.sum(gain("rank")).alias("idcg"))
    hits = approx.filter(F.col("rank") <= k).join(
        truth_k.select("id1", "id2"), ["id1", "id2"], "left_semi"
    )
    dcg = hits.groupBy("id1").agg(F.sum(gain("rank")).alias("dcg"))
    return (
        idcg.join(dcg, "id1", "left")
        .select(
            F.col("id1").alias("probe_id"),
            F.round(F.coalesce(F.col("dcg"), F.lit(0.0)) / F.col("idcg"), 6).alias(
                "ndcg"
            ),
        )
    )


# -- MMR diversified re-ranking -----------------------------------------------

MMR_LAMBDA = 0.7  # relevance weight; 1-λ penalizes similarity to picks
MMR_PICKS = 5  # diversified results returned per probe


def mmr_rerank(
    cand: DataFrame,
    pair_sim: DataFrame,
    picks: int = MMR_PICKS,
    lam: float = MMR_LAMBDA,
) -> DataFrame:
    """Maximal-Marginal-Relevance re-ranking of a per-probe candidate
    list: greedily pick the candidate maximizing
    ``λ·rel − (1−λ)·max_sim_to_already_picked`` — the standard
    diversification pass over an ANN result (top-k lists are often
    near-duplicate clusters; MMR spreads them).

    ``cand``: (pid, cid, rel), one row per (pid, cid); ``pair_sim``:
    (pid, c1, c2, sim), one row per ordered pair WITHIN a probe's
    candidate list (k² per probe, never corpus-scale).

    The greedy loop is sequential in `picks` but independent across
    probes, so it runs locally per probe (the partition-local greedy of
    distributed diversified top-k): each candidate carries its row of
    `pair_sim` as a ``map<cid, sim>``, the probe's candidates are
    gathered into one array by a single aggregate keyed by ``pid``, and
    the rounds run as one higher-order ``aggregate`` over that array.
    Round 1 is the argmax by (rel desc, cid asc); every later round
    scores the remaining candidates against the picks so far and takes
    the argmax by (score desc, cid asc).  No per-round jobs and no
    pins: the plan is at most one shuffle keyed by ``pid`` per input
    (none when an input already arrives partitioned by ``pid``) plus
    an interpreted per-probe step bounded by cand·picks² map lookups,
    independent of corpus size and vector width.  Every score is
    bit-exact algebra over the exact cosine values, so the greedy
    trajectory is reproducible cross-engine."""
    if picks < 1:
        raise ValueError(f"mmr_rerank: picks must be >= 1, got {picks}")
    lam_s, rest_s = sql_double(lam), sql_double(1 - lam)
    # one row per probe: its candidates, each carrying its row of
    # `pair_sim` as a map<cid, sim>.  Every aggregate and the join are
    # keyed by pid, so input already partitioned by pid is not shuffled
    sims = (
        pair_sim.groupBy("pid", "c1")
        .agg(F.map_from_entries(F.collect_list(F.struct("c2", "sim"))).alias("m"))
        .groupBy("pid")
        .agg(F.map_from_entries(F.collect_list(F.struct("c1", "m"))).alias("sm"))
    )
    groups = (
        cand.groupBy("pid")
        .agg(F.collect_list(F.struct("cid", "rel")).alias("cs"))
        .join(sims, "pid", "left")
        .select(
            "pid",
            F.expr(
                "transform(cs, c -> named_struct("
                "'cid', c.cid, 'rel', c.rel, 'sims', sm[c.cid]))"
            ).alias("cs"),
        )
    )
    # a pick is (key, -cid, cid, score, pick_order): array_max over the
    # leading (key, -cid) pair is the argmax by (key desc, cid asc); an
    # empty candidate pool gives NULL, which the filter drops, so a probe
    # with fewer than `picks` candidates emits only its real picks
    first = (
        "filter(array(array_max(transform(cs, c -> named_struct("
        f"'k', c.rel, 'nc', -c.cid, 'cid', c.cid, 'score', {lam_s} * c.rel, "
        "'pick_order', 1)))), x -> x IS NOT NULL)"
    )
    if picks == 1:
        chosen = first  # sequence(2, 1) would count down, not be empty
    else:
        score = (
            f"{lam_s} * c.rel - {rest_s} * "
            "coalesce(array_max(transform(acc, p -> c.sims[p.cid])), 0.0D)"
        )
        step = (
            "array_max(transform(transform("
            "filter(cs, c -> NOT exists(acc, p -> p.cid = c.cid)), "
            f"c -> named_struct('s', {score}, 'cid', c.cid)), "
            "x -> named_struct('k', x.s, 'nc', -x.cid, 'cid', x.cid, "
            "'score', x.s, 'pick_order', r)))"
        )
        chosen = (
            f"aggregate(sequence(2, {int(picks)}), {first}, "
            f"(acc, r) -> concat(acc, filter(array({step}), x -> x IS NOT NULL)))"
        )
    return groups.select("pid", F.inline(F.expr(chosen))).select(
        F.col("pid").alias("id1"),
        F.col("cid").alias("id2"),
        "pick_order",
        F.round("score", 6).alias("mmr_score"),
    )


# -- ColBERT-style late interaction (MaxSim) ----------------------------------

MAXSIM_TOKENS = 8  # reinterpret the dim-64 fixture vector as 8 tokens x 8 dims
MAXSIM_K = 5


def _token_norm_elems(v: str, tokens: int, sub: int, d: Dialect) -> list[str]:
    """Elements of the flattened per-token-normalized copy of a
    (tokens*sub)-dim vector: out[t*sub + k] = v[t*sub + k] / ||token_t||."""
    return [
        f"{d.elem(v, t * sub + k + 1)} / {norm_sql(v, sub, d, lo=t * sub + 1)}"
        for t in range(tokens)
        for k in range(sub)
    ]


def _maxsim_sql(a: str, b: str, tokens: int, sub: int, d: Dialect) -> list[str]:
    """Per probe token, ``greatest`` over its unrolled dot against every
    doc token (unrolled chains, NOT the HOF fold: 64 interpreted folds
    per pair would be the hot-path trap the verify notes ban)."""
    return [
        "greatest("
        + ", ".join(
            dot_sql(a, b, sub, d, lo=t * sub + 1, blo=s * sub + 1)
            for s in range(tokens)
        )
        + ")"
        for t in range(tokens)
    ]


def normalize_token_array(v: str, tokens: int, sub: int) -> Column:
    """Per-token-normalized copy of a (tokens*sub)-dim vector, one narrow
    projection per ROW, so the pair stage's MaxSim cosines collapse to
    plain dots (no norms recomputed per candidate).  ``v`` is a SQL
    expression string; the whole array is one ``F.expr`` parse (building
    it term by term through py4j cost ~400 driver round-trips)."""
    return F.expr("array(" + ", ".join(_token_norm_elems(v, tokens, sub, SPARK)) + ")")


def _maxsim_score(pnv: str, dnv: str, tokens: int, sub: int) -> Column:
    """MaxSim (Khattab & Zaharia, SIGIR 2020): sum over probe tokens of
    the best cosine against any doc token — fixed ``greatest`` over a
    left-assoc term chain, bit-replayable in SQL.  Column names in, one
    ``F.expr`` parse out (the 64-dot tree through py4j cost ~1500 driver
    round-trips, OPTIMIZATION_r15.md: ~3.8 s of b32 construction)."""
    return F.expr(" + ".join(_maxsim_sql(pnv, dnv, tokens, sub, SPARK)))


def maxsim_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    probe_mod: int,
    k: int = MAXSIM_K,
    tokens: int = MAXSIM_TOKENS,
    dim: int = DIM,
) -> DataFrame:
    """Brute-force MaxSim top-k — the late-interaction ORACLE/eval
    harness (like `cosine_topk_brute` for single-vector cosine): probe
    batch broadcast against a linear corpus scan, every pair scored.
    The production read path is `retrieval_maxsim_rerank`'s
    retrieve-then-rerank composition — at 100 TB nobody MaxSims the
    whole corpus; a cheap first-stage retriever bounds the candidate
    set and MaxSim re-orders a shortlist."""
    sub = dim // tokens
    base = df.select(
        F.col(id_col).alias("vid"),
        normalize_token_array(
            f"CAST({vec_col} AS ARRAY<DOUBLE>)", tokens, sub
        ).alias("nv"),
    )
    probes = base.filter(F.col("vid") % probe_mod == 0).select(
        F.col("vid").alias("pid"), F.col("nv").alias("pnv")
    )
    # the brute-harness contract every other exact harness carries
    # (similarity.MAX_PROBES): the probe side is N/probe_mod — LINEAR
    # in the corpus — so fail loudly before broadcasting it rather
    # than silently quadratic-izing at a bigger SF (r7 verdict #3)
    from dask_obj_spark.operators import similarity as _sim

    # one scan serves both the guard and the probe materialization
    # (heavy_hitters precedent, r8 advice): collect ≤ MAX_PROBES+1
    # probe rows once; if within the cap the collected set is COMPLETE
    # (the limit was never reached), so it becomes the broadcast local
    # relation and the cross-join plan starts from an in-memory
    # LocalTableScan instead of re-scanning the corpus for probes
    probe_rows = probes.limit(_sim.MAX_PROBES + 1).collect()
    if len(probe_rows) > _sim.MAX_PROBES:
        raise ValueError(
            f"maxsim_topk: probe set exceeds MAX_PROBES={_sim.MAX_PROBES} "
            "(exact-oracle harness contract) — raise probe_mod or use "
            "the retrieve-then-rerank path (retrieval_maxsim_rerank)"
        )
    probes_local = df.sparkSession.createDataFrame(probe_rows, probes.schema)
    scored = (
        base.crossJoin(F.broadcast(probes_local))
        .filter(F.col("pid") != F.col("vid"))
        .select(
            F.col("pid").alias("id1"),
            F.col("vid").alias("id2"),
            _maxsim_score("pnv", "nv", tokens, sub).alias("ms"),
        )
    )
    w = Window.partitionBy("id1").orderBy(F.desc("ms"), F.asc("id2"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "id1",
            "id2",
            F.floor(F.col("ms") * 1000000).cast("bigint").alias("maxsim_x1m"),
            "rank",
        )
    )
