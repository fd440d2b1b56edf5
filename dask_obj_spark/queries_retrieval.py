"""Query registrations and DuckDB oracles for ``operators/retrieval.py``."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from dask_obj_spark.functions.hashing import duck_ws_tokens
from dask_obj_spark.functions.vec import DUCK, cosine_sql, fixed_cosine
from dask_obj_spark.operators.retrieval import (
    MAXSIM_K,
    MAXSIM_TOKENS,
    MMR_LAMBDA,
    MMR_PICKS,
    _maxsim_score,
    _maxsim_sql,
    _token_norm_elems,
    maxsim_topk,
    mmr_rerank,
    ndcg_at_k,
    normalize_token_array,
    rrf_fuse,
)
from dask_obj_spark.operators.similarity import (
    CENTROID_MOD,
    DIM,
    cosine_ranked_raw,
    cosine_topk_brute,
    cosine_topk_ivf,
)
from dask_obj_spark.operators.text import bm25_topk
from dask_obj_spark.queries import query
from dask_obj_spark.queries_similarity import (
    _duck_base,
    _duck_ivf_cells,
    _duck_ranked,
    _duck_with,
)
from dask_obj_spark.sources import load_table


_RRF_TERMS = ("join", "hash", "scan")

_RRF_TOPN = 20  # depth of each leg's list entering the fusion


def _duck_rrf_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in _RRF_TERMS)
    cos = cosine_sql("pv", "v", DIM, DUCK)
    lex = f"""dl AS (
      SELECT doc_id, len({duck_ws_tokens("text")}) AS dl
      FROM documents
    ), stats AS (
      SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
    ), toks AS (
      SELECT doc_id, lower(unnest({duck_ws_tokens("text")})) AS term
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
    )"""
    sem = f"""probe AS (
      SELECT v AS pv FROM base WHERE vid = 0
    ), sem_scored AS (
      SELECT vid, {cos} AS cos_raw FROM base, probe WHERE vid <> 0
    ), sem AS (
      SELECT vid, sem_rank FROM (
        SELECT vid,
               row_number() OVER (ORDER BY cos_raw DESC, vid) AS sem_rank
        FROM sem_scored
      ) WHERE sem_rank <= {_RRF_TOPN}
    )"""
    return _duck_with(
        [lex, _duck_base(), sem],
        """
    SELECT coalesce(l.doc_id, s.vid) AS doc_id,
           coalesce(l.lex_rank, -1)::BIGINT AS lex_rank,
           coalesce(s.sem_rank, -1)::BIGINT AS sem_rank,
           round(coalesce(1.0 / (60 + l.lex_rank), 0)
                 + coalesce(1.0 / (60 + s.sem_rank), 0), 6) AS rrf
    FROM lex l FULL JOIN sem s ON l.doc_id = s.vid
    ORDER BY rrf DESC, doc_id LIMIT 10
    """,
    )


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


def _duck_ivf_ndcg_oracle() -> str:
    return _duck_with(
        [
            _duck_base(50),
            _duck_ranked(prefix="t_"),
            "truth AS (SELECT id1, id2, rank FROM t_ranked WHERE rank <= 10)",
            _duck_ivf_cells(CENTROID_MOD, DIM, probe_mod=50),
            _duck_ranked("cand", "a_"),
            """approx AS (
      SELECT id1, id2, rank FROM a_ranked WHERE rank <= 10
    ), idcg AS (
      SELECT id1, sum(1.0 / log2(rank + 1.0)) AS idcg
      FROM truth GROUP BY id1
    ), dcg AS (
      SELECT a.id1, sum(1.0 / log2(a.rank + 1.0)) AS dcg
      FROM approx a JOIN truth t ON a.id1 = t.id1 AND a.id2 = t.id2
      GROUP BY a.id1
    )""",
        ],
        """
    SELECT i.id1 AS probe_id, round(coalesce(d.dcg, 0) / i.idcg, 6) AS ndcg
    FROM idcg i LEFT JOIN dcg d ON i.id1 = d.id1
    """,
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


MMR_CAND = 20  # candidate depth entering the re-rank


def _duck_mmr_oracle(probe_mod: int, cand_k: int, picks: int, lam: float) -> str:
    cos = cosine_sql("pv", "v", DIM, DUCK)
    csim = cosine_sql("a.v", "b.v", DIM, DUCK)
    ctes = [
        _duck_base(probe_mod),
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
    return _duck_with(
        ctes,
        f"""
    SELECT pid AS id1, cid AS id2, pick_order, round(score, 6) AS mmr_score
    FROM sel{picks}
    """,
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


def _duck_nb_cte(tokens: int, sub: int) -> str:
    """``nb`` CTE: per-token-normalized flattened vectors, the
    `normalize_token_array` elements in DuckDB text."""
    return f"""nb AS (
      SELECT vid, [{", ".join(_token_norm_elems("v", tokens, sub, DUCK))}] AS nv
      FROM base
    )"""


def _duck_maxsim_expr(a: str, b: str, tokens: int, sub: int) -> str:
    return "(" + " + ".join(_maxsim_sql(a, b, tokens, sub, DUCK)) + ")"


def _duck_maxsim_brute_oracle(probe_mod: int, k: int) -> str:
    sub = DIM // MAXSIM_TOKENS
    ms = _duck_maxsim_expr("pnv", "nv", MAXSIM_TOKENS, sub)
    return _duck_with(
        [
            _duck_base(probe_mod),
            _duck_nb_cte(MAXSIM_TOKENS, sub),
            f"""nprobes AS (
      SELECT vid AS pid, nv AS pnv FROM nb WHERE vid % {probe_mod} = 0
    ), ms_scored AS (
      SELECT pid AS id1, b.vid AS id2, {ms} AS ms
      FROM nb b, nprobes WHERE pid <> b.vid
    ), ms_ranked AS (
      SELECT id1, id2, ms,
             row_number() OVER (PARTITION BY id1 ORDER BY ms DESC, id2) AS rank
      FROM ms_scored
    )""",
        ],
        f"""
    SELECT id1, id2, CAST(floor(ms * 1000000) AS BIGINT) AS maxsim_x1m, rank
    FROM ms_ranked WHERE rank <= {k}
    """,
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
    ms = _duck_maxsim_expr("p.nv", "d.nv", MAXSIM_TOKENS, sub)
    return _duck_with(
        [
            _duck_base(50),
            _duck_ivf_cells(CENTROID_MOD, DIM, probe_mod=50),
            _duck_ranked("cand", "a_"),
            f"shortlist AS (SELECT id1, id2 FROM a_ranked WHERE rank <= {MAXSIM_CAND})",
            _duck_nb_cte(MAXSIM_TOKENS, sub),
            f"""rescored AS (
      SELECT s.id1, s.id2, {ms} AS ms
      FROM shortlist s
      JOIN nb p ON p.vid = s.id1
      JOIN nb d ON d.vid = s.id2
    ), rr AS (
      SELECT id1, id2, ms,
             row_number() OVER (PARTITION BY id1 ORDER BY ms DESC, id2) AS rank
      FROM rescored
    )""",
        ],
        f"""
    SELECT id1, id2, CAST(floor(ms * 1000000) AS BIGINT) AS maxsim_x1m, rank
    FROM rr WHERE rank <= {MAXSIM_K}
    """,
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
