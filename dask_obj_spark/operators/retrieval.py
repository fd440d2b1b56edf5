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
from dask_obj_spark.functions.vec import (
    DUCK,
    SPARK,
    Dialect,
    cosine_sql,
    dot_sql,
    fixed_cosine,
    norm_sql,
)
from dask_obj_spark.operators.similarity import (
    CENTROID_MOD,
    DIM,
    NPROBE,
    _duck_base,
    cosine_ranked_raw,
    cosine_topk_brute,
    cosine_topk_ivf,
)
from dask_obj_spark.operators.text import bm25_topk
from dask_obj_spark.queries import query
from dask_obj_spark.sources import load_table

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


_RRF_TERMS = ("join", "hash", "scan")
_RRF_TOPN = 20  # depth of each leg's list entering the fusion


def _duck_rrf_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in _RRF_TERMS)
    cos = cosine_sql("pv", "v", DIM, DUCK)
    return f"""
    WITH dl AS (
      SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) AS dl
      FROM documents
    ), stats AS (
      SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
    ), toks AS (
      SELECT doc_id, lower(unnest(string_split_regex(trim(text), '\\s+'))) AS term
      FROM documents
    ), posting AS (
      SELECT doc_id, term, count(*) AS tf FROM toks
      WHERE term IN ({terms})
      GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, count(*) AS df_ FROM posting GROUP BY term
    ), lex_scored AS (
      SELECT p.doc_id,
             round(sum(
               ln(1.0 + (s.n_docs - f.df_ + 0.5) / (f.df_ + 0.5))
               * (p.tf * 2.2)
               / (p.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / s.avgdl))
             ), 6) AS score
      FROM posting p
        JOIN dfreq f ON p.term = f.term
        JOIN dl d ON p.doc_id = d.doc_id
        CROSS JOIN stats s
      GROUP BY p.doc_id
    ), lex AS (
      SELECT doc_id, lex_rank FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY score DESC, doc_id) AS lex_rank
        FROM lex_scored
      ) WHERE lex_rank <= {_RRF_TOPN}
    ), cbase AS (
      SELECT vec_id AS vid, embedding::DOUBLE[] AS v FROM embeddings
    ), probe AS (
      SELECT v AS pv FROM cbase WHERE vid = 0
    ), sem_scored AS (
      SELECT vid, {cos} AS cos_raw FROM cbase, probe WHERE vid <> 0
    ), sem AS (
      SELECT vid, sem_rank FROM (
        SELECT vid,
               row_number() OVER (ORDER BY cos_raw DESC, vid) AS sem_rank
        FROM sem_scored
      ) WHERE sem_rank <= {_RRF_TOPN}
    )
    SELECT coalesce(l.doc_id, s.vid) AS doc_id,
           coalesce(l.lex_rank, -1)::BIGINT AS lex_rank,
           coalesce(s.sem_rank, -1)::BIGINT AS sem_rank,
           round(coalesce(1.0 / (60 + l.lex_rank), 0)
                 + coalesce(1.0 / (60 + s.sem_rank), 0), 6) AS rrf
    FROM lex l FULL JOIN sem s ON l.doc_id = s.vid
    ORDER BY rrf DESC, doc_id LIMIT 10
    """


@query("retrieval_rrf_hybrid", oracle=_duck_rrf_oracle())
def retrieval_rrf_hybrid_q(spark, sf_dir):
    """Hybrid search: BM25 top-20 for {join, hash, scan} fused with the
    cosine top-20 neighborhood of probe vector 0 (vec ids are doc-id
    aligned, FIXTURES.md) by reciprocal-rank fusion; top-10 fused docs.

    The 20-row windows below are over leg *results*, not the corpus —
    single-partition by construction and constant-size at any corpus
    scale."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    lex = bm25_topk(docs, "doc_id", "text", list(_RRF_TERMS), k=_RRF_TOPN)
    lex = lex.withColumn(
        "lex_rank",
        F.row_number().over(Window.orderBy(F.desc("score"), F.asc("doc_id"))),
    )
    # probe_mod larger than any vec_id → probe set = {0} exactly
    sem = cosine_topk_brute(emb, "vec_id", "embedding", probe_mod=1_000_000_000,
                            k=_RRF_TOPN)
    sem = sem.select(F.col("id2").alias("doc_id"), F.col("rank").alias("sem_rank"))
    fused = rrf_fuse(lex, sem, "doc_id")
    return fused.orderBy(F.desc("rrf"), F.asc("doc_id")).limit(10)


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


def _duck_ivf_ndcg_oracle() -> str:
    cos = cosine_sql("pv", "v", DIM, DUCK)
    return (
        _duck_base(50)
        + f"""
    , t_scored AS (
      SELECT pid AS id1, vid AS id2, {cos} AS cos_raw
      FROM base JOIN probes ON pid <> vid
    ), t_ranked AS (
      SELECT id1, id2,
             row_number() OVER (PARTITION BY id1 ORDER BY cos_raw DESC, id2) AS rank
      FROM t_scored
    ), truth AS (
      SELECT id1, id2, rank FROM t_ranked WHERE rank <= 10
    ), cents AS (
      SELECT vid AS cid, v AS cv FROM base WHERE vid % {CENTROID_MOD} = 1
    ), assign AS (
      SELECT b.vid, b.v, c.cid,
             {cosine_sql("b.v", "c.cv", DIM, DUCK)} AS cs
      FROM base b, cents c
    ), ranked_assign AS (
      SELECT vid, v, cid, cs,
             row_number() OVER (PARTITION BY vid ORDER BY cs DESC, cid) AS rn
      FROM assign
    ), cells AS (
      SELECT vid, v, cid FROM ranked_assign WHERE rn = 1
    ), pcells AS (
      SELECT vid AS pid, v AS pv, cid
      FROM ranked_assign WHERE rn <= {NPROBE} AND vid % 50 = 0
    ), cand AS (
      SELECT DISTINCT p.pid, p.pv, c.vid, c.v
      FROM pcells p JOIN cells c ON p.cid = c.cid AND p.pid <> c.vid
    ), a_scored AS (
      SELECT pid AS id1, vid AS id2, {cos} AS cos_raw
      FROM cand
    ), a_ranked AS (
      SELECT id1, id2,
             row_number() OVER (PARTITION BY id1 ORDER BY cos_raw DESC, id2) AS rank
      FROM a_scored
    ), approx AS (
      SELECT id1, id2, rank FROM a_ranked WHERE rank <= 10
    ), idcg AS (
      SELECT id1, sum(1.0 / log2(rank + 1.0)) AS idcg
      FROM truth GROUP BY id1
    ), dcg AS (
      SELECT a.id1, sum(1.0 / log2(a.rank + 1.0)) AS dcg
      FROM approx a JOIN truth t ON a.id1 = t.id1 AND a.id2 = t.id2
      GROUP BY a.id1
    )
    SELECT i.id1 AS probe_id, round(coalesce(d.dcg, 0) / i.idcg, 6) AS ndcg
    FROM idcg i LEFT JOIN dcg d ON i.id1 = d.id1
    """
    )


@query("sim_ndcg_ivf", oracle=_duck_ivf_ndcg_oracle())
def sim_ndcg_ivf_q(spark, sf_dir):
    """NDCG@10 of the IVF ANN index against exact brute-force ground
    truth, per probe — the graded companion to `sim_ivf_recall` (a hit
    at rank 1 earns more than the same hit at rank 10), oracle-checked
    with both rankings replayed in SQL."""
    emb = load_table(spark, sf_dir, "embeddings")
    truth = cosine_topk_brute(emb, "vec_id", "embedding", probe_mod=50, k=10)
    approx = cosine_topk_ivf(emb, "vec_id", "embedding", probe_mod=50, k=10)
    return ndcg_at_k(truth, approx, 10)


# -- MMR diversified re-ranking -----------------------------------------------

MMR_LAMBDA = 0.7  # relevance weight; 1-λ penalizes similarity to picks
MMR_CAND = 20  # candidate depth entering the re-rank
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


def _duck_mmr_oracle(probe_mod: int, cand_k: int, picks: int, lam: float) -> str:
    cos = cosine_sql("pv", "v", DIM, DUCK)
    csim = cosine_sql("a.v", "b.v", DIM, DUCK)
    ctes = [
        _duck_base(probe_mod).replace("WITH ", "").strip(),
        f"""scored AS MATERIALIZED (
      SELECT pid, vid, v, {cos} AS rel
      FROM base JOIN probes ON pid <> vid
    ), cand AS MATERIALIZED (
      SELECT pid, vid AS cid, v, rel FROM (
        SELECT pid, vid, v, rel,
               row_number() OVER (PARTITION BY pid ORDER BY rel DESC, vid) AS rn
        FROM scored
      ) WHERE rn <= {cand_k}
    ), psim AS MATERIALIZED (
      SELECT a.pid, a.cid AS c1, b.cid AS c2, {csim} AS sim
      FROM cand a JOIN cand b ON a.pid = b.pid AND a.cid <> b.cid
    ), pick1 AS MATERIALIZED (
      SELECT pid, cid, {lam} * rel AS score, 1 AS pick_order FROM (
        SELECT pid, cid, rel,
               row_number() OVER (PARTITION BY pid ORDER BY rel DESC, cid) AS rn
        FROM cand
      ) WHERE rn = 1
    ), sel1 AS MATERIALIZED (
      SELECT pid, cid, score, pick_order FROM pick1
    )""",
    ]
    for r in range(2, picks + 1):
        ctes.append(f"""ms{r} AS MATERIALIZED (
      SELECT p.pid, p.c1 AS cid, max(p.sim) AS ms
      FROM psim p JOIN sel{r-1} s ON s.pid = p.pid AND s.cid = p.c2
      GROUP BY p.pid, p.c1
    ), pick{r} AS MATERIALIZED (
      SELECT pid, cid, score, {r} AS pick_order FROM (
        SELECT c.pid, c.cid,
               {lam} * c.rel - {1 - lam} * coalesce(m.ms, 0) AS score,
               row_number() OVER (PARTITION BY c.pid
                 ORDER BY {lam} * c.rel - {1 - lam} * coalesce(m.ms, 0) DESC,
                          c.cid) AS rn
        FROM cand c
        LEFT JOIN ms{r} m ON m.pid = c.pid AND m.cid = c.cid
        WHERE NOT EXISTS (
          SELECT 1 FROM sel{r-1} s WHERE s.pid = c.pid AND s.cid = c.cid
        )
      ) WHERE rn = 1
    ), sel{r} AS MATERIALIZED (
      SELECT * FROM sel{r-1} UNION ALL SELECT * FROM pick{r}
    )""")
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT pid AS id1, cid AS id2, pick_order, round(score, 6) AS mmr_score
    FROM sel{picks}
    """
    )


@query(
    "sim_mmr_topk",
    oracle=_duck_mmr_oracle(50, MMR_CAND, MMR_PICKS, MMR_LAMBDA),
)
def sim_mmr_topk_q(spark, sf_dir):
    """MMR-diversified top-5 per probe from the exact top-20 cosine
    candidates (λ=0.7) — the greedy trajectory is replayed round-for-
    round by the unrolled materialized-CTE oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        F.col("vec_id").alias("vid"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    # RAW (unrounded) relevance for the re-rank: the greedy argmax must
    # run on exact values on both engines.  `cos_raw` is the same
    # dot/(‖p‖·‖v‖) chain `fixed_cosine` builds, so it is bit-identical
    top = cosine_ranked_raw(emb, "vec_id", "embedding", probe_mod=50).filter(
        F.col("rank") <= MMR_CAND
    )
    cand = top.select(
        F.col("id1").alias("pid"), F.col("id2").alias("cid"), F.col("cos_raw").alias("rel")
    )
    cvec = cand.select("pid", "cid").join(base.withColumnRenamed("vid", "cid"), "cid")
    a = cvec.select("pid", F.col("cid").alias("c1"), F.col("v").alias("va"))
    b = cvec.select("pid", F.col("cid").alias("c2"), F.col("v").alias("vb"))
    # width-guarded unrolled cosine (functions/vec.py): no interpreted
    # per-pair lambda evaluation
    pair_sim = (
        a.join(b, "pid")
        .filter(F.col("c1") != F.col("c2"))
        .select("pid", "c1", "c2", fixed_cosine("va", "vb", DIM).alias("sim"))
    )
    return mmr_rerank(cand, pair_sim)


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


def _duck_nb_cte(tokens: int, sub: int) -> str:
    """``nb`` CTE: per-token-normalized flattened vectors, the
    `normalize_token_array` elements in DuckDB text."""
    return f"""
    nb AS (
      SELECT vid, [{", ".join(_token_norm_elems("v", tokens, sub, DUCK))}] AS nv
      FROM base
    )"""


def _duck_maxsim_expr(a: str, b: str, tokens: int, sub: int) -> str:
    return "(" + " + ".join(_maxsim_sql(a, b, tokens, sub, DUCK)) + ")"


def _duck_maxsim_brute_oracle(probe_mod: int, k: int) -> str:
    sub = DIM // MAXSIM_TOKENS
    ms = _duck_maxsim_expr("pnv", "nv", MAXSIM_TOKENS, sub)
    return (
        _duck_base(probe_mod)
        + ", "
        + _duck_nb_cte(MAXSIM_TOKENS, sub)
        + f"""
    , nprobes AS (
      SELECT vid AS pid, nv AS pnv FROM nb WHERE vid % {probe_mod} = 0
    ), ms_scored AS (
      SELECT pid AS id1, b.vid AS id2, {ms} AS ms
      FROM nb b, nprobes WHERE pid <> b.vid
    ), ms_ranked AS (
      SELECT id1, id2, ms,
             row_number() OVER (PARTITION BY id1 ORDER BY ms DESC, id2) AS rank
      FROM ms_scored
    )
    SELECT id1, id2, CAST(floor(ms * 1000000) AS BIGINT) AS maxsim_x1m, rank
    FROM ms_ranked WHERE rank <= {k}
    """
    )


@query("retrieval_maxsim", oracle=_duck_maxsim_brute_oracle(50, MAXSIM_K))
def retrieval_maxsim_q(spark, sf_dir):
    """Late-interaction MaxSim retrieval (ColBERT; Khattab & Zaharia,
    SIGIR 2020) treating each fixture embedding as 8 tokens x 8 dims:
    per probe token, the best cosine against any doc token, summed.
    Brute pair surface (the oracle harness twin); scores are
    floor-quantized micro-units on bit-identical doubles (identical
    left-assoc chains both engines)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return maxsim_topk(emb, "vec_id", "embedding", probe_mod=50, k=MAXSIM_K)


MAXSIM_CAND = 20  # first-stage depth entering the MaxSim re-rank


def _duck_maxsim_rerank_oracle() -> str:
    sub = DIM // MAXSIM_TOKENS
    cos = cosine_sql("pv", "v", DIM, DUCK)
    ms = _duck_maxsim_expr("p.nv", "d.nv", MAXSIM_TOKENS, sub)
    return (
        _duck_base(50)
        + f"""
    , cents AS (
      SELECT vid AS cid, v AS cv FROM base WHERE vid % {CENTROID_MOD} = 1
    ), assign AS (
      SELECT b.vid, b.v, c.cid,
             {cosine_sql("b.v", "c.cv", DIM, DUCK)} AS cs
      FROM base b, cents c
    ), ranked_assign AS (
      SELECT vid, v, cid, cs,
             row_number() OVER (PARTITION BY vid ORDER BY cs DESC, cid) AS rn
      FROM assign
    ), cells AS (
      SELECT vid, v, cid FROM ranked_assign WHERE rn = 1
    ), pcells AS (
      SELECT vid AS pid, v AS pv, cid
      FROM ranked_assign WHERE rn <= {NPROBE} AND vid % 50 = 0
    ), cand AS (
      SELECT DISTINCT p.pid, p.pv, c.vid, c.v
      FROM pcells p JOIN cells c ON p.cid = c.cid AND p.pid <> c.vid
    ), a_scored AS (
      SELECT pid AS id1, vid AS id2, {cos} AS cos_raw
      FROM cand
    ), a_ranked AS (
      SELECT id1, id2,
             row_number() OVER (PARTITION BY id1 ORDER BY cos_raw DESC, id2)
               AS rank
      FROM a_scored
    ), shortlist AS (
      SELECT id1, id2 FROM a_ranked WHERE rank <= {MAXSIM_CAND}
    ), """
        + _duck_nb_cte(MAXSIM_TOKENS, sub).strip()
        + f"""
    , rescored AS (
      SELECT s.id1, s.id2, {ms} AS ms
      FROM shortlist s
      JOIN nb p ON p.vid = s.id1
      JOIN nb d ON d.vid = s.id2
    ), rr AS (
      SELECT id1, id2, ms,
             row_number() OVER (PARTITION BY id1 ORDER BY ms DESC, id2) AS rank
      FROM rescored
    )
    SELECT id1, id2, CAST(floor(ms * 1000000) AS BIGINT) AS maxsim_x1m, rank
    FROM rr WHERE rank <= {MAXSIM_K}
    """
    )


@query("retrieval_maxsim_rerank", oracle=_duck_maxsim_rerank_oracle())
def retrieval_maxsim_rerank_q(spark, sf_dir):
    """The PRODUCTION late-interaction shape: retrieve-then-rerank.
    Stage 1 is the cheap single-vector IVF retriever
    (`cosine_topk_ivf`, modular oracle-replay centroids) pulling
    MAXSIM_CAND=20 candidates per probe; stage 2 re-orders ONLY that
    shortlist by MaxSim.  At 100 TB the expensive 64-dot token scoring
    touches 20 rows per probe — never the corpus — and the shortlist
    re-rank joins are top-N-sized; the corpus-scale work stays in the
    audited IVF plan.  Oracle replays both stages (IVF CTEs + the
    identical MaxSim term chains)."""
    from dask_obj_spark.operators.similarity import cosine_topk_ivf

    emb = load_table(spark, sf_dir, "embeddings")
    sub = DIM // MAXSIM_TOKENS
    shortlist = cosine_topk_ivf(
        emb, "vec_id", "embedding", probe_mod=50, k=MAXSIM_CAND
    ).select("id1", "id2")
    nb = emb.select(
        F.col("vec_id").alias("vid"),
        normalize_token_array(
            "CAST(embedding AS ARRAY<DOUBLE>)", MAXSIM_TOKENS, sub
        ).alias("nv"),
    )
    p = nb.select(F.col("vid").alias("pvid"), F.col("nv").alias("pnv"))
    d = nb.select(F.col("vid").alias("dvid"), F.col("nv").alias("dnv"))
    rescored = (
        shortlist.join(p, shortlist["id1"] == p["pvid"])
        .join(d, shortlist["id2"] == d["dvid"])
        .select(
            "id1",
            "id2",
            _maxsim_score("pnv", "dnv", MAXSIM_TOKENS, sub).alias("ms"),
        )
    )
    w = Window.partitionBy("id1").orderBy(F.desc("ms"), F.asc("id2"))
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= MAXSIM_K)
        .select(
            "id1",
            "id2",
            F.floor(F.col("ms") * 1000000).cast("bigint").alias("maxsim_x1m"),
            "rank",
        )
    )
