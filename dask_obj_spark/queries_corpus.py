"""Query registrations and DuckDB oracles for ``operators/corpus.py``."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from dask_obj_spark.functions.hashing import (
    duck_porthash,
    duck_word_ngrams,
    duck_word_shingles,
    duck_ws_tokens,
    porthash,
    word_ngrams,
)
from dask_obj_spark.functions.vec import DUCK, cosine_sql
from dask_obj_spark.operators.corpus import (
    bpe_apply_stats,
    bpe_char_encode,
    bpe_char_fit,
    bpe_char_roundtrip,
    bpe_learn_merges,
    budget_select,
    budget_waterfill,
    cap_per_facet,
    chunk_windows,
    contamination_hits,
    contrastive_negatives,
    decontam_impact,
    dedup_cluster_assignment,
    diff_snapshots,
    dsir_importance_weights,
    epoch_schedule,
    fim_transform,
    global_shuffle_shards,
    hash_split,
    hits_scores,
    interleave_sources,
    kfold_exact,
    leakage_safe_split,
    length_histogram,
    mix_rebalance,
    ngram_novelty,
    ngram_vocab,
    pack_bins,
    pack_payload,
    pack_segments,
    pagerank,
    quality_psi_by_source,
    quality_quantile_norm,
    quantize_embeddings_int8,
    semantic_contamination,
    source_overlap_matrix,
    span_corruption,
    stratified_split,
    weighted_sample,
    weighted_sample_k_per_group,
)
from dask_obj_spark.operators.similarity import DIM as _EMB_DIM
from dask_obj_spark.queries import query
from dask_obj_spark.queries_similarity import _duck_with
from dask_obj_spark.sources import load_table


def _clusters_with(ctes: list[str], select: str) -> str:
    """An oracle over the near-dup clusters ``comp(id, cluster_id)``
    (MinHash-LSH pairs → connected components), then ``ctes`` and
    ``select`` — shared by every cluster-consuming oracle."""
    from dask_obj_spark.queries_dedup import _duck_pairs_ctes

    clusters = """edges AS (
      SELECT id1 AS s, id2 AS d FROM pairs
      UNION ALL
      SELECT id2 AS s, id1 AS d FROM pairs
    ), reach AS (
      SELECT s AS id, s AS lbl FROM edges
      UNION
      SELECT e.s AS id, r.lbl
      FROM reach r JOIN edges e ON e.d = r.id
    ), comp AS (
      SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id
    )"""
    # RECURSIVE qualifies the whole CTE list; only `reach` recurses
    return _duck_with(
        [_duck_pairs_ctes(16, 4, 0.5), clusters] + ctes, select, recursive=True
    )


def _clusters_oracle() -> str:
    return _clusters_with(
        [],
        """
    SELECT d.doc_id,
           coalesce(c.cluster_id, d.doc_id) AS cluster_id,
           CASE WHEN coalesce(c.cluster_id, d.doc_id) = d.doc_id
                THEN 1 ELSE 0 END AS is_keeper
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
    """,
    )


@query("corpus_dedup_clusters", oracle=_clusters_oracle())
def corpus_dedup_clusters_q(spark, sf_dir):
    """Near-dup cluster assignment for every document (MinHash-LSH pairs
    → connected components → keeper flag)."""
    docs = load_table(spark, sf_dir, "documents")
    from dask_obj_spark.operators.dedup import minhash_candidate_pairs

    pairs = minhash_candidate_pairs(docs, "doc_id", "text", 16, 4, 4, 0.5).select(
        "id1", "id2"
    )
    return dedup_cluster_assignment(docs, pairs, "doc_id")


@query(
    "corpus_pack_bins",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             len({duck_ws_tokens("text")}) AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, source, n_tokens,
             sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cum_tokens
      FROM t
    )
    SELECT doc_id, source, n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens,
           CAST(floor((cum_tokens - n_tokens) / 256) AS BIGINT) AS bin_id
    FROM c
    """,
)
def corpus_pack_bins_q(spark, sf_dir):
    """Token-budget sequence packing (256-token bins per source stream)."""
    docs = load_table(spark, sf_dir, "documents")
    return pack_bins(docs, "doc_id", "text", "source", 256)


@query(
    "pipeline_pack_export",
    oracle=_clusters_with(
        [
            f"""keepers AS (
      SELECT d.doc_id, d.source, d.text
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
      WHERE coalesce(c.cluster_id, d.doc_id) = d.doc_id
    ), kt AS (
      SELECT doc_id, source, text,
             len({duck_ws_tokens("text")}) AS n_tokens
      FROM keepers
    ), kc AS (
      SELECT doc_id, source, text, n_tokens,
             sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cum_tokens
      FROM kt
    ), kb AS (
      SELECT doc_id, source, text, n_tokens,
             CAST(floor((cum_tokens - n_tokens) / 256) AS BIGINT) AS bin_id
      FROM kc
    )"""
        ],
        """
    SELECT source, bin_id, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
           string_agg(text, chr(10) ORDER BY doc_id) AS payload
    FROM kb GROUP BY source, bin_id
    """,
    ),
)
def pipeline_pack_export_q(spark, sf_dir):
    """Capstone composition: near-dup cluster keepers (iterative
    connected components over MinHash-LSH pairs) fed straight into
    token-budget sequence packing — raw corpus to deduplicated packed
    training rows in one engine-side pipeline. Only the tiny pair graph
    leaves the declarative plan (the CC loop); the rest fuses."""
    docs = load_table(spark, sf_dir, "documents")
    from dask_obj_spark.operators.dedup import minhash_candidate_pairs

    pairs = minhash_candidate_pairs(docs, "doc_id", "text", 16, 4, 4, 0.5).select(
        "id1", "id2"
    )
    assign = dedup_cluster_assignment(docs, pairs, "doc_id")
    keepers = docs.join(
        assign.filter(F.col("is_keeper") == 1).select("doc_id"), "doc_id"
    )
    return pack_payload(keepers, "doc_id", "text", "source", 256, "\n")


@query(
    "corpus_pack_payload",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, text,
             len({duck_ws_tokens("text")}) AS n_tokens
      FROM documents
    ), c AS (
      SELECT doc_id, source, text, n_tokens,
             sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS cum_tokens
      FROM t
    ), b AS (
      SELECT doc_id, source, text, n_tokens,
             CAST(floor((cum_tokens - n_tokens) / 256) AS BIGINT) AS bin_id
      FROM c
    )
    SELECT source, bin_id, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
           string_agg(text, chr(10) ORDER BY doc_id) AS payload
    FROM b GROUP BY source, bin_id
    """,
)
def corpus_pack_payload_q(spark, sf_dir):
    """Packed training rows: per-(source, 256-token bin) concatenated
    payload + integer stats."""
    docs = load_table(spark, sf_dir, "documents")
    return pack_payload(docs, "doc_id", "text", "source", 256, "\n")


@query("graph_pagerank_rowsonly")
def graph_pagerank_q(spark, sf_dir):
    """PageRank centrality over the MinHash near-dup graph (10 rounds) —
    rows-only: fixed-point iteration with aggregation is outside
    single-statement SQL (DuckDB forbids aggregates in recursive terms);
    semantics pinned by the Python-reference test instead."""
    docs = load_table(spark, sf_dir, "documents")
    from dask_obj_spark.operators.dedup import minhash_candidate_pairs

    pairs = minhash_candidate_pairs(docs, "doc_id", "text", 16, 4, 4, 0.5).select(
        "id1", "id2"
    )
    return pagerank(pairs, "id1", "id2", n_iter=10)


@query(
    "corpus_split",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, source,
             {duck_porthash("CAST(doc_id AS VARCHAR)", "split")} % 1000000 AS hv
      FROM documents
    )
    SELECT doc_id, source,
           CASE WHEN hv < 980000 THEN 'train'
                WHEN hv < 990000 THEN 'val'
                ELSE 'test' END AS split
    FROM h
    """,
)
def corpus_split_q(spark, sf_dir):
    """Deterministic 98/1/1 train/val/test split by id hash."""
    docs = load_table(spark, sf_dir, "documents")
    return hash_split(
        docs.select("doc_id", "source"),
        "doc_id",
        {"train": 0.98, "val": 0.01, "test": 0.01},
    )


@query(
    "corpus_mix_rebalance",
    oracle=f"""
    SELECT doc_id, lang FROM documents
    WHERE {duck_porthash("CAST(doc_id AS VARCHAR)", "mix")} % 1000000
          < CAST(floor((CASE WHEN lang = 'en' THEN 0.3 ELSE 1.0 END)
                       * 1000000.0) AS BIGINT)
    """,
)
def corpus_mix_rebalance_q(spark, sf_dir):
    """Deterministic mixture rebalancing: downsample the over-represented
    'en' slice to ~30% keep rate, keep the rest."""
    docs = load_table(spark, sf_dir, "documents")
    return mix_rebalance(
        docs.select("doc_id", "lang"), "doc_id", "lang", {"en": 0.3}, 1.0
    )


@query(
    "corpus_ngram_vocab",
    oracle=f"""
    WITH g AS (
      SELECT unnest({duck_word_ngrams("text", 2)}) AS ngram FROM documents
    ), c AS (
      SELECT ngram, count(*) AS n FROM g GROUP BY ngram HAVING count(*) >= 5
    ), top AS (
      SELECT ngram, n FROM c ORDER BY n DESC, ngram LIMIT 100
    )
    SELECT ngram, n, row_number() OVER (ORDER BY n DESC, ngram) AS rank
    FROM top
    """,
)
def corpus_ngram_vocab_q(spark, sf_dir):
    """Top-100 bigrams with count >= 5 (phrase/BPE vocab prep)."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_vocab(docs, "text", 2, 5, 100)


@query(
    "corpus_contamination",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, unnest({duck_word_shingles("text", 8)}) AS sh
      FROM documents
    ), ev AS (
      SELECT DISTINCT sh FROM sh WHERE doc_id % 20 = 0
    )
    SELECT s.doc_id, count(*) AS n_overlap
    FROM sh s JOIN ev ON s.sh = ev.sh
    WHERE s.doc_id % 20 <> 0
    GROUP BY s.doc_id
    """,
)
def corpus_contamination_q(spark, sf_dir):
    """Train/eval 8-gram contamination hits (eval = doc_id % 20 == 0)."""
    docs = load_table(spark, sf_dir, "documents")
    return contamination_hits(docs, "doc_id", "text", 20, 8)


@query(
    "corpus_quantize_int8",
    oracle="""
    WITH b AS (
      SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings
    ), m AS (
      SELECT vec_id, v, max(abs(v)) OVER (PARTITION BY vec_id) AS amax FROM b
    ), q AS (
      SELECT vec_id, amax,
             CAST(floor(v / (amax / 127.0) + 0.5) AS BIGINT) AS qv
      FROM m WHERE amax > 0
    )
    SELECT vec_id,
           round(max(amax) / 127.0, 6) AS scale,
           min(qv) AS q_min, max(qv) AS q_max,
           CAST(sum(qv) AS BIGINT) AS q_sum
    FROM q GROUP BY vec_id
    """,
)
def corpus_quantize_int8_q(spark, sf_dir):
    """Absmax int8 quantization stats per embedding vector."""
    emb = load_table(spark, sf_dir, "embeddings")
    return quantize_embeddings_int8(emb, "vec_id", "embedding")


def _weighted_sample_oracle() -> str:
    from dask_obj_spark.queries_text import duck_quality_select

    h = duck_porthash("CAST(q.doc_id AS VARCHAR)", "wsamp")
    return f"""
    WITH q AS ({duck_quality_select()})
    SELECT q.doc_id, q.quality
    FROM q
    WHERE {h} % 1000000 < CAST(floor(q.quality * 1000000.0) AS BIGINT)
    """


@query("corpus_weighted_sample", oracle=_weighted_sample_oracle())
def corpus_weighted_sample_q(spark, sf_dir):
    """Deterministic quality-weighted downsample of documents."""
    from dask_obj_spark.operators.text import quality_scores

    docs = load_table(spark, sf_dir, "documents")
    scored = quality_scores(docs, "doc_id", "text").select("doc_id", "quality")
    return weighted_sample(scored, "doc_id", "quality")


def _cap_per_source_oracle(cap: int, seed: str) -> str:
    """`cap_per_facet` over documents by source: the ``cap`` docs with
    the least ``seed``-salted id hash per source, ties to the lower id."""
    return f"""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY {duck_porthash("CAST(doc_id AS VARCHAR)", seed)}, doc_id
             ) AS rn
      FROM documents
    ) WHERE rn <= {cap}
    """


@query("corpus_cap_per_source", oracle=_cap_per_source_oracle(10, "cap"))
def corpus_cap_per_source_q(spark, sf_dir):
    """Domain balancing: at most 10 docs per source, hash-deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    return cap_per_facet(docs, "doc_id", "source", 10).select("doc_id", "source")


def _keep_best_oracle() -> str:
    from dask_obj_spark.queries_text import duck_quality_select

    return _clusters_with(
        [
            f"""q AS (
      SELECT doc_id, quality FROM ({duck_quality_select()})
    ), lab AS (
      SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
    ), ranked AS (
      SELECT l.doc_id, l.cluster_id, q.quality,
             row_number() OVER (PARTITION BY l.cluster_id
                                ORDER BY q.quality DESC, l.doc_id) AS rn
      FROM lab l JOIN q ON l.doc_id = q.doc_id
    )"""
        ],
        "SELECT doc_id, cluster_id, quality FROM ranked WHERE rn = 1",
    )


@query("corpus_dedup_keep_best", oracle=_keep_best_oracle())
def corpus_dedup_keep_best_q(spark, sf_dir):
    """Canonical-document selection: near-dup clusters (MinHash-LSH →
    connected components) × quality scores → keep the HIGHEST-quality
    doc per cluster (tie-break lowest id), not merely the min-id keeper.
    The end-to-end "dedup a corpus and keep the best copy" pipeline as
    one query: every stage is the already-oracle-checked operator, the
    composition adds one broadcast-sized join and a per-cluster top-1
    window (WindowGroupLimit prunes map-side).  Ordering compares the
    ROUNDED quality so both engines rank identically."""
    from dask_obj_spark.operators.dedup import minhash_candidate_pairs
    from dask_obj_spark.operators.text import quality_scores

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_candidate_pairs(docs, "doc_id", "text", 16, 4, 4, 0.5).select(
        "id1", "id2"
    )
    clusters = dedup_cluster_assignment(docs, pairs, "doc_id")
    q = quality_scores(docs, "doc_id", "text").select("doc_id", "quality")
    joined = clusters.join(q, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return (
        joined.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .select("doc_id", "cluster_id", "quality")
    )


def _chunk_ctes(
    chunk_size: int, stride: int, src: str = "documents", carry: str = ""
) -> str:
    """toks → starts → chunks CTE chain replaying `chunk_windows` over
    ``src`` (a table or prior CTE), carrying ``carry`` columns (e.g.
    ", source") through — shared by the chunking oracle and the capstone
    pipeline oracle so the replay logic exists exactly once."""
    return f"""toks AS (
      SELECT doc_id{carry}, str_split(text, ' ') AS t FROM {src}
    ), starts AS (
      SELECT doc_id{carry}, t,
             unnest(range(0, greatest(len(t), 1), {stride})) AS start
      FROM toks
    ), chunks AS (
      SELECT doc_id{carry}, start // {stride} AS chunk_idx,
             list_slice(t, start + 1, least(start + {chunk_size}, len(t))) AS chunk
      FROM starts
    )"""


def _chunk_windows_oracle(chunk_size: int, stride: int) -> str:
    return _duck_with(
        [_chunk_ctes(chunk_size, stride)],
        """
    SELECT doc_id, chunk_idx, len(chunk) AS n_tokens,
           array_to_string(chunk, ' ') AS chunk_text
    FROM chunks
    """,
    )


@query("corpus_chunk_windows", oracle=_chunk_windows_oracle(32, 24))
def corpus_chunk_windows_q(spark, sf_dir):
    """Overlapping 32-token chunks with stride 24 over the documents
    corpus — shuffle-free narrow plan (split/sequence/posexplode/slice)."""
    docs = load_table(spark, sf_dir, "documents")
    return chunk_windows(docs, "doc_id", "text", chunk_size=32, stride=24)


def _pair_hist_oracle() -> str:
    from dask_obj_spark.queries_dedup import _duck_pairs_ctes

    return _duck_with(
        [_duck_pairs_ctes(16, 4, 0.0)],
        """
    SELECT floor(est_jaccard * 10) / 10 AS bucket,
           count(*) AS n_pairs
    FROM pairs
    GROUP BY floor(est_jaccard * 10) / 10
    """,
    )


@query("eval_pair_quality_hist", oracle=_pair_hist_oracle())
def eval_pair_quality_hist_q(spark, sf_dir):
    """Histogram of estimated Jaccard over ALL MinHash candidate pairs
    (threshold 0) — the tuning chart every dedup deployment reads before
    choosing its cutoff: bucket width 0.1, count per bucket.  Costs one
    groupBy over the (already bucket-bounded) candidate set."""
    from dask_obj_spark.operators.dedup import minhash_candidate_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_candidate_pairs(docs, "doc_id", "text", 16, 4, 4, 0.0)
    return pairs.groupBy(
        (F.floor(F.col("est_jaccard") * 10) / 10).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n_pairs"))


@query(
    "eval_vocab_oov",
    oracle=f"""
    WITH g AS (
      SELECT source, unnest({duck_word_ngrams("text", 2)}) AS ngram FROM documents
    ), c AS (
      SELECT ngram, count(*) AS n FROM g GROUP BY ngram HAVING count(*) >= 5
    ), vocab AS (
      SELECT ngram FROM c ORDER BY n DESC, ngram LIMIT 100
    )
    SELECT g.source,
           count(*) AS n_grams,
           count(*) FILTER (WHERE v.ngram IS NULL) AS n_oov,
           round(count(*) FILTER (WHERE v.ngram IS NULL) * 1.0 / count(*), 6)
             AS oov_rate
    FROM g LEFT JOIN vocab v ON g.ngram = v.ngram
    GROUP BY g.source
    """,
)
def eval_vocab_oov_q(spark, sf_dir):
    """Out-of-vocabulary rate per source against the top-100 bigram
    vocabulary — the coverage report run after every vocab build
    (composes `corpus_ngram_vocab`'s vocabulary with a broadcast
    left join; the gram stream reduces to per-source counts, so the
    shuffle carries |sources| rows).

    The documents scan + bigram explode runs TWICE (once to build the
    vocab aggregate, once as the probe side) — deliberate: both passes
    run at scan bandwidth, while materializing the exploded gram stream
    to avoid the second pass would write/hold O(total tokens) rows. In
    production the vocabulary is a standing artifact (built once by
    `corpus_ngram_vocab`, stored), making this a single-scan query."""
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        "source", F.explode(word_ngrams("text", 2)).alias("ngram")
    )
    vocab = (
        grams.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 5)
        .orderBy(F.desc("n"), F.asc("ngram"))
        .limit(100)
        .select("ngram", F.lit(True).alias("in_vocab"))
    )
    return (
        grams.join(F.broadcast(vocab), "ngram", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count(F.when(F.col("in_vocab").isNull(), 1)).alias("n_oov"),
            F.round(
                F.count(F.when(F.col("in_vocab").isNull(), 1)) / F.count(F.lit(1)), 6
            ).alias("oov_rate"),
        )
    )


_CAPSTONE_TAU, _CAPSTONE_CELL_MOD = 0.35, 61

_CAPSTONE_CHUNK, _CAPSTONE_STRIDE, _CAPSTONE_BUDGET = 32, 24, 256


def _capstone_semantic_oracle() -> str:
    """Composed from the SAME oracle builders the component queries use
    (`_semantic_cells_ctes` from queries_dedup.py, `_chunk_ctes`
    above) — changing an operator's replay logic changes the capstone
    replay with it."""
    from dask_obj_spark.queries_dedup import _semantic_cells_ctes
    from dask_obj_spark.operators.similarity import DIM

    return _duck_with(
        [
            _semantic_cells_ctes(_CAPSTONE_TAU, _CAPSTONE_CELL_MOD, DIM),
            """kept AS (
      SELECT d.doc_id, d.source, d.text
      FROM documents d
      JOIN cells c ON d.doc_id = c.vid
      LEFT JOIN dropped dr ON c.vid = dr.vid
      WHERE dr.vid IS NULL
    )""",
            _chunk_ctes(_CAPSTONE_CHUNK, _CAPSTONE_STRIDE, src="kept", carry=", source"),
            """cum AS (
      SELECT doc_id, source, chunk_idx, len(chunk) AS n_tokens,
             sum(len(chunk)) OVER (PARTITION BY source ORDER BY doc_id, chunk_idx
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS cum_tokens
      FROM chunks
    )""",
        ],
        f"""
    SELECT doc_id, chunk_idx, source, n_tokens,
           CAST(floor((cum_tokens - n_tokens) / {_CAPSTONE_BUDGET}) AS BIGINT)
             AS bin_id
    FROM cum
    """,
    )


@query("capstone_semantic_chunk_pack", oracle=_capstone_semantic_oracle())
def capstone_semantic_chunk_pack_q(spark, sf_dir):
    """Round-3 capstone: semantic-dedup keepers → context-window chunks
    → token-budget packed bins, as ONE fused lazy plan.

    Composition: `semantic_dedup` (operators/dedup.py) selects keeper
    docs via the embedding cell index (embeddings are 1:1 with documents
    by id in the driver fixtures); keepers semi-join the documents scan;
    `chunk_windows` explodes each survivor into overlapping 32-token
    chunks (narrow, zero-shuffle; `source` rides through via
    carry_cols — no join back to the source table); the packing window
    assigns 256-token bins per source stream (per-stream shuffle only,
    no global sort — same contract as corpus_pack_bins).  Catalyst
    fuses the narrow stages; the shuffles are the dedup cell join, the
    semi-join, and the per-source pack window."""
    from dask_obj_spark.operators.dedup import semantic_dedup

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    keepers = (
        semantic_dedup(emb, "vec_id", "embedding", tau=_CAPSTONE_TAU)
        .filter(F.col("keep"))
        .select(F.col("vid").alias("doc_id"))
    )
    kept = docs.join(keepers, "doc_id", "left_semi")
    chunks = chunk_windows(
        kept, "doc_id", "text", _CAPSTONE_CHUNK, _CAPSTONE_STRIDE,
        carry_cols=["source"],
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id", "chunk_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        chunks.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .select(
            "doc_id",
            "chunk_idx",
            "source",
            "n_tokens",
            F.floor((F.col("cum_tokens") - F.col("n_tokens")) / _CAPSTONE_BUDGET)
            .cast("bigint")
            .alias("bin_id"),
        )
    )


@query(
    "corpus_contrastive_negatives",
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             {duck_porthash('doc_id::VARCHAR', 'negring')} % 8 AS bucket,
             {duck_porthash('doc_id::VARCHAR', 'negring')} AS h
      FROM documents
    ), ranked AS (
      SELECT doc_id, bucket, h,
             row_number() OVER (PARTITION BY bucket ORDER BY h, doc_id) AS rank,
             count(*) OVER (PARTITION BY bucket) AS bucket_n
      FROM base
    ), offsets AS (
      SELECT doc_id, bucket, bucket_n, j, rank AS rank_a,
             (rank - 1 + j) % bucket_n + 1 AS neg_rank
      FROM ranked, unnest([1, 2]) t(j)
    )
    SELECT o.doc_id, o.j, r.doc_id AS neg_doc_id
    FROM offsets o
    JOIN ranked r ON r.bucket = o.bucket AND r.rank = o.neg_rank
    WHERE r.doc_id <> o.doc_id
    """,
)
def corpus_contrastive_negatives_q(spark, sf_dir):
    """Hash-ring negative sampling: 2 deterministic negatives per doc."""
    docs = load_table(spark, sf_dir, "documents")
    return contrastive_negatives(docs, "doc_id", k=2, buckets=8)


def _bpe_ctes(rounds: int) -> list[str]:
    """The EXACT k-round BPE merge loop as chained CTE stages — the same
    windows/gaps-and-islands algorithm, unrolled: ``best{r}`` is round
    r's merged pair, ``sym{r}`` the symbols after it."""
    ctes = [
        f"""sym0 AS (
      SELECT doc_id,
             generate_subscripts({duck_ws_tokens("text")}, 1) AS i,
             unnest({duck_ws_tokens("text")}) AS s
      FROM documents
    )"""
    ]
    for r in range(1, rounds + 1):
        p, c = f"sym{r-1}", f"sym{r}"
        ctes.append(f"""paired{r} AS (
      SELECT doc_id, i, s,
             lead(s) OVER (PARTITION BY doc_id ORDER BY i) AS w2
      FROM {p}
    ), best{r} AS (
      SELECT s AS w1, w2, count(*) AS n
      FROM paired{r} WHERE w2 IS NOT NULL
      GROUP BY s, w2
      ORDER BY n DESC, w1, w2 LIMIT 1
    ), flag{r} AS (
      SELECT p.doc_id, p.i, p.s,
             CASE WHEN p.s = b.w1 AND p.w2 = b.w2 THEN 1 ELSE 0 END AS m,
             b.w1 || '_' || b.w2 AS merged
      FROM paired{r} p CROSS JOIN best{r} b
    ), runs{r} AS (
      SELECT *, sum(m) OVER (PARTITION BY doc_id ORDER BY i
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS rn_m
      FROM flag{r}
    ), offs{r} AS (
      SELECT *, CASE WHEN m = 1 THEN i - rn_m END AS runkey
      FROM runs{r}
    ), marked{r} AS (
      SELECT *, CASE WHEN m = 1 AND
               (row_number() OVER (PARTITION BY doc_id, runkey ORDER BY i) - 1)
                 % 2 = 0
             THEN 1 ELSE 0 END AS merge_at
      FROM offs{r}
    ), kept{r} AS (
      SELECT doc_id, i,
             CASE WHEN merge_at = 1 THEN merged ELSE s END AS s,
             coalesce(lag(merge_at) OVER (PARTITION BY doc_id ORDER BY i), 0)
               AS prev_m
      FROM marked{r}
    ), {c} AS (
      SELECT doc_id,
             row_number() OVER (PARTITION BY doc_id ORDER BY i) AS i, s
      FROM kept{r} WHERE prev_m = 0
    )""")
    return ctes


def _bpe_oracle(rounds: int) -> str:
    """Each round's merged pair."""
    return _duck_with(
        _bpe_ctes(rounds),
        "\n    UNION ALL ".join(
            f"SELECT {r} AS round, w1, w2, CAST(n AS BIGINT) AS n FROM best{r}"
            for r in range(1, rounds + 1)
        ),
    )


def _bpe_compression_oracle(rounds: int) -> str:
    """Per-doc compression after the same rounds: token count before vs
    symbol count after."""
    return _duck_with(
        _bpe_ctes(rounds)
        + [
            "agg0 AS (SELECT doc_id, count(*) AS n_tokens FROM sym0 GROUP BY doc_id)",
            f"aggk AS (SELECT doc_id, count(*) AS n_syms FROM sym{rounds} GROUP BY doc_id)",
        ],
        """
    SELECT agg0.doc_id, agg0.n_tokens, aggk.n_syms,
           agg0.n_tokens - aggk.n_syms AS n_merged
    FROM agg0 JOIN aggk ON agg0.doc_id = aggk.doc_id
    """,
    )


@query("corpus_bpe_merges", oracle=_bpe_oracle(3))
def corpus_bpe_merges_q(spark, sf_dir):
    """3 rounds of BPE merge learning over the documents corpus, each
    round hash-matched against the unrolled recursive oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return bpe_learn_merges(docs, "doc_id", "text", rounds=3)


@query("corpus_bpe_compression", oracle=_bpe_compression_oracle(3))
def corpus_bpe_compression_q(spark, sf_dir):
    """Per-doc compression from applying 3 learned BPE merges."""
    docs = load_table(spark, sf_dir, "documents")
    return bpe_apply_stats(docs, "doc_id", "text", rounds=3)


@query("corpus_sample_k_per_source", oracle=_cap_per_source_oracle(20, "groupk"))
def corpus_sample_k_per_source_q(spark, sf_dir):
    """Exactly-20-docs-per-source deterministic balanced sample."""
    docs = load_table(spark, sf_dir, "documents")
    return cap_per_facet(docs, "doc_id", "source", 20, seed="groupk").select(
        "doc_id", "source"
    )


@query(
    "corpus_source_overlap",
    oracle=f"""
    WITH inv AS (
      SELECT DISTINCT source AS src,
             unnest({duck_word_shingles('text', 8)}) AS sh
      FROM documents
    ), kept AS (
      SELECT src, sh FROM inv
      WHERE sh NOT IN (
        SELECT sh FROM inv GROUP BY sh HAVING count(*) > 50
      )
    )
    SELECT a.src AS src_a, b.src AS src_b, count(*) AS shared_shingles
    FROM kept a JOIN kept b ON a.sh = b.sh AND a.src < b.src
    GROUP BY a.src, b.src
    """,
)
def corpus_source_overlap_q(spark, sf_dir):
    """8-gram shingle overlap matrix between sources (stop-shingle cap
    at 50 sources)."""
    docs = load_table(spark, sf_dir, "documents")
    return source_overlap_matrix(docs, "source", "text", 8, 50)


def _duck_pagerank_sql(n_iter: int, damping: float = 0.85) -> str:
    """Unrolled PageRank oracle (MATERIALIZED per round — DuckDB inlines
    CTEs by default and a chained iteration nests exponentially
    otherwise; same lesson as the BPE oracle)."""
    rounds = []
    for i in range(1, n_iter + 1):
        rounds.append(
            f"""r{i} AS MATERIALIZED (
      SELECT v.id,
             {1 - damping} / (SELECT nn FROM n)
               + {damping} * coalesce(c.in_sum, 0.0) AS rank
      FROM verts v LEFT JOIN (
        SELECT e.d AS id, sum(r.rank / o.outdeg) AS in_sum
        FROM sym e JOIN r{i - 1} r ON e.s = r.id JOIN outdeg o ON e.s = o.s
        GROUP BY e.d
      ) c ON c.id = v.id
    )"""
        )
    return f"""
    WITH edges AS MATERIALIZED (
      SELECT DISTINCT l_suppkey AS s, 1000000 + l_partkey AS d FROM lineitem
    ),
    sym AS MATERIALIZED (
      SELECT s, d FROM edges UNION SELECT d AS s, s AS d FROM edges
    ),
    verts AS MATERIALIZED (SELECT DISTINCT s AS id FROM sym),
    n AS (SELECT count(*) AS nn FROM verts),
    outdeg AS MATERIALIZED (SELECT s, count(*) AS outdeg FROM sym GROUP BY s),
    r0 AS MATERIALIZED (
      SELECT id, 1.0 / (SELECT nn FROM n) AS rank FROM verts
    ),
    {",".join(rounds)}
    SELECT id, round(rank * (SELECT nn FROM n), 6) AS rank_scaled
    FROM r{n_iter}
    """


@query("graph_pagerank_fixed", oracle=_duck_pagerank_sql(5))
def graph_pagerank_fixed_q(spark, sf_dir):
    """PageRank, oracle-paired: 5 damped iterations over the
    supplier↔part bipartite shipping graph (deterministic edge set from
    distinct lineitem pairs; part node ids offset into a disjoint
    range).  The companion to graph_pagerank_rowsonly — that row proves
    the operator runs on the organic MinHash near-dup graph; this row
    pins the NUMERICS of the iteration against an identically-unrolled
    MATERIALIZED-CTE oracle.  Output is scaled by |V| (mean-1
    normalization) so values are O(1) — avoids the sub-1e-3
    scientific-notation stringification divergence documented in the
    verify notes.  Scale: per round one vertex-keyed shuffle
    (edges ⋈ ranks ⋈ outdeg → groupBy(dst)); localCheckpoint per round
    cuts the doubling lineage — the iterative-solver template shared
    with connected_components/k-core/label-propagation."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select(
        F.col("l_suppkey").alias("src"),
        (F.lit(1000000) + F.col("l_partkey")).alias("dst"),
    ).distinct()
    ranks = pagerank(pairs, "src", "dst", n_iter=5, round_to=None)
    nn = ranks.agg(F.count(F.lit(1)).alias("nn"))
    return ranks.crossJoin(F.broadcast(nn)).select(
        "id", F.round(F.col("rank") * F.col("nn"), 6).alias("rank_scaled")
    )


@query(
    "corpus_mix_temperature",
    oracle="""
    WITH c AS (
      SELECT source, count(*) AS n_docs FROM documents GROUP BY source
    ), t AS (
      SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM c
    ), p AS (
      SELECT source, n_docs, n_docs * 1.0 / t.total AS p,
             pow(n_docs * 1.0 / t.total, 0.7) AS pa
      FROM c CROSS JOIN t
    ), z AS (
      SELECT sum(pa) AS zsum FROM p
    )
    SELECT p.source, p.n_docs,
           round(p.p, 6) AS p_raw,
           round(p.pa / z.zsum, 6) AS p_temp,
           round((p.pa / z.zsum) / p.p, 6) AS sample_factor
    FROM p CROSS JOIN z
    """,
)
def corpus_mix_temperature_q(spark, sf_dir):
    """Temperature-scaled mixture weights over sources (alpha = 0.7):
    q_s proportional to p_s^alpha, renormalized — the standard
    multilingual/multi-source rebalancing (mT5/XLM-R style) that lifts
    low-resource slices without flattening the mix entirely.
    `sample_factor` (q/p) is the per-source up/down-sampling multiplier
    a sampler like mix_rebalance consumes directly.

    Plan: one corpus hash aggregate; everything after is
    dimension-sized (|sources| rows) with two broadcast single-row
    joins.  At 100 TB the only full-data work is the codegen'd count."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    t = c.agg(F.sum("n_docs").cast("bigint").alias("total"))
    p = c.crossJoin(F.broadcast(t)).select(
        "source",
        "n_docs",
        (F.col("n_docs") / F.col("total")).alias("p"),
        F.pow(F.col("n_docs") / F.col("total"), F.lit(0.7)).alias("pa"),
    )
    z = p.agg(F.sum("pa").alias("zsum"))
    return p.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        F.round("p", 6).alias("p_raw"),
        F.round(F.col("pa") / F.col("zsum"), 6).alias("p_temp"),
        F.round((F.col("pa") / F.col("zsum")) / F.col("p"), 6).alias("sample_factor"),
    )


def _duck_hits_sql(n_iter: int) -> str:
    rounds = []
    prev_h = "h0"
    for i in range(1, n_iter + 1):
        rounds.append(f"""ar{i} AS MATERIALIZED (
      SELECT e.d AS id, sum(h.h) AS a
      FROM ed e JOIN {prev_h} h ON e.s = h.id GROUP BY e.d
    ), a{i} AS MATERIALIZED (
      SELECT id, a / (SELECT max(a) FROM ar{i}) AS a FROM ar{i}
    ), hr{i} AS MATERIALIZED (
      SELECT e.s AS id, sum(a.a) AS h
      FROM ed e JOIN a{i} a ON e.d = a.id GROUP BY e.s
    ), h{i} AS MATERIALIZED (
      SELECT id, h / (SELECT max(h) FROM hr{i}) AS h FROM hr{i}
    )""")
        prev_h = f"h{i}"
    return f"""
    WITH ed AS MATERIALIZED (
      SELECT DISTINCT l_suppkey AS s, 1000000 + l_partkey AS d FROM lineitem
    ),
    h0 AS MATERIALIZED (
      SELECT DISTINCT s AS id, 1.0 AS h FROM ed
    ),
    {",".join(rounds)}
    SELECT id, 'hub' AS kind, round(h, 6) AS score FROM h{n_iter}
    UNION ALL
    SELECT id, 'authority' AS kind, round(a, 6) AS score FROM a{n_iter}
    """


@query("graph_hits_fixed", oracle=_duck_hits_sql(4))
def graph_hits_fixed_q(spark, sf_dir):
    """HITS (4 rounds) over the directed supplier→part shipping graph,
    numerics pinned against the identically-unrolled oracle."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select(
        F.col("l_suppkey").alias("src"),
        (F.lit(1000000) + F.col("l_partkey")).alias("dst"),
    ).distinct()
    return hits_scores(pairs, "src", "dst", n_iter=4)


_DSIR_TGT = "('src1', 'src2', 'src3')"


@query(
    "corpus_dsir_topk",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id, text, (source IN {_DSIR_TGT}) AS tgt FROM documents
    ), grams AS (
      SELECT doc_id, tgt,
             unnest(list_concat({duck_word_ngrams('text', 1)},
                                {duck_word_ngrams('text', 2)})) AS g
      FROM docs
    ), bg AS (
      SELECT doc_id, tgt, {duck_porthash('g')} % 64 AS bucket FROM grams
    ), bc AS (
      SELECT bucket,
             SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
             SUM(CASE WHEN NOT tgt THEN 1 ELSE 0 END) AS cr
      FROM bg GROUP BY bucket
    ), tot AS (
      SELECT CAST(SUM(ct) AS BIGINT) AS tt, CAST(SUM(cr) AS BIGINT) AS rr FROM bc
    ), ratio AS (
      SELECT bucket,
             CAST(floor(1000000.0 * (ln((ct + 1.0) / (tt + 64.0))
                                     - ln((cr + 1.0) / (rr + 64.0)))) AS BIGINT)
               AS lr_micro
      FROM bc CROSS JOIN tot
    )
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(r.lr_micro) AS BIGINT) AS logw_x1m
    FROM bg b JOIN ratio r USING (bucket)
    WHERE NOT b.tgt
    GROUP BY b.doc_id
    ORDER BY logw_x1m DESC, doc_id
    LIMIT 20
    """,
)
def corpus_dsir_topk_q(spark, sf_dir):
    """DSIR importance resampling: the 20 raw documents that look most
    like the src1-src3 target domain under hashed unigram+bigram
    importance ratios — the data-selection step that upweights
    domain-relevant text before training."""
    docs = load_table(spark, sf_dir, "documents")
    w = dsir_importance_weights(
        docs, "doc_id", "text", F.col("source").isin("src1", "src2", "src3")
    )
    return w.orderBy(F.desc("logw_x1m"), F.asc("doc_id")).limit(20)


@query(
    "corpus_weighted_sample_k",
    oracle=f"""
    WITH scored AS (
      SELECT source, doc_id,
             ln((({duck_porthash("CAST(doc_id AS VARCHAR)", "wsk")}) % 1000000 + 0.5)
                / 1000000.0) / CAST(n_chars AS DOUBLE) AS skey
      FROM documents
    ), ranked AS (
      SELECT source, doc_id, skey,
             row_number() OVER (PARTITION BY source ORDER BY skey DESC, doc_id)
               AS rank
      FROM scored
    )
    SELECT source, doc_id,
           CAST(floor(1000000.0 * skey) AS BIGINT) AS skey_x1m, rank
    FROM ranked WHERE rank <= 5
    """,
)
def corpus_weighted_sample_k_q(spark, sf_dir):
    """Length-weighted sample of 5 docs per source (Efraimidis-Spirakis
    keys on the portable hash), reproducible across engines."""
    docs = load_table(spark, sf_dir, "documents")
    return weighted_sample_k_per_group(docs, "source", "doc_id", "n_chars", k=5)


def _semantic_contamination_oracle(
    eval_mod: int, eval_rem: int, tau_x1m: int, cell_mod: int, dim: int
) -> str:
    from dask_obj_spark.queries_dedup import _semantic_cells_ctes

    cos = cosine_sql("a.v", "b.v", dim, DUCK)
    return _duck_with(
        [
            _semantic_cells_ctes(0.35, cell_mod, dim),
            f"""pairs AS (
      SELECT a.vid AS vid, b.vid AS eval_vid,
             floor(({cos}) * 1000000.0)::BIGINT AS cos_x1m
      FROM cells a JOIN cells b ON a.cid = b.cid
      WHERE a.vid % {eval_mod} <> {eval_rem} AND b.vid % {eval_mod} = {eval_rem}
    )""",
        ],
        f"""
    SELECT vid, eval_vid, cos_x1m FROM (
      SELECT vid, eval_vid, cos_x1m,
             row_number() OVER (
               PARTITION BY vid ORDER BY cos_x1m DESC, eval_vid ASC
             ) AS rn
      FROM pairs WHERE cos_x1m >= {tau_x1m}
    ) WHERE rn = 1
    """,
    )


@query(
    "corpus_semantic_contamination",
    oracle=_semantic_contamination_oracle(17, 3, 300000, 61, _EMB_DIM),
)
def corpus_semantic_contamination_q(spark, sf_dir):
    """Semantic decontamination over the embeddings table: train docs
    (vid % 17 != 3) flagged when cosine ≥ 0.30 to any eval-slice doc
    within the same coarse cell, with the closest eval match."""
    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_contamination(emb, "vec_id", "embedding")


@query("corpus_bpe_encode_rowsonly")
def corpus_bpe_encode_rowsonly_q(spark, sf_dir):
    """Char-BPE tokenizer fit (50 merges on the bounded word-frequency
    profile) + encode applied to every document: per-doc word/char/BPE
    token counts.  Rows-only (greedy rank-ordered merging has no SQL
    form); invariants and classic examples pinned in tests."""
    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_char_fit(docs, "doc_id", "text", n_merges=50)
    return bpe_char_encode(docs, "doc_id", "text", merges)


@query(
    "corpus_bpe_roundtrip",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             list_filter(
               {duck_ws_tokens("coalesce(text, '')")},
               x -> x <> ''
             ) AS ws
      FROM documents
    )
    SELECT doc_id,
           CAST(len(ws) AS BIGINT) AS n_words,
           md5(array_to_string(ws, ' ')) AS rebuilt_md5,
           CAST(1 AS BIGINT) AS ok
    FROM w
    """,
)
def corpus_bpe_roundtrip_q(spark, sf_dir):
    """Decode-round-trip of the char-BPE tokenizer over every document:
    fit 50 merges on the bounded word profile, encode, rebuild each
    word from its token sequence, and hash the reconstruction — the
    oracle computes the same hash from the raw text directly, so the
    greedy encode's token stream is verified losslessly even though
    the encode itself has no SQL form."""
    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_char_fit(docs, "doc_id", "text", n_merges=50)
    return bpe_char_roundtrip(docs, "doc_id", "text", merges)


@query(
    "corpus_shuffle_shards",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             {duck_porthash("CAST(doc_id AS VARCHAR)", "shuf0")} AS key
      FROM documents
    )
    SELECT CAST(key % 8 AS INT) AS shard,
           row_number() OVER (PARTITION BY key % 8 ORDER BY key, doc_id)
             AS pos,
           doc_id, key
    FROM scored
    """,
)
def corpus_shuffle_shards_q(spark, sf_dir):
    """Reproducible global shuffle of the documents table into 8
    shards: every doc's (shard, within-shard position, permutation
    key) — one hash exchange, no global sort."""
    docs = load_table(spark, sf_dir, "documents")
    return global_shuffle_shards(docs, "doc_id", n_shards=8)


@query(
    "corpus_shard_balance",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             {duck_porthash("CAST(doc_id AS VARCHAR)", "shuf0")} AS key
      FROM documents
    )
    SELECT CAST(key % 8 AS INT) AS shard,
           CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(CASE WHEN key % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS even_keys
    FROM scored GROUP BY 1
    """,
)
def corpus_shard_balance_q(spark, sf_dir):
    """Shard-balance audit for the global shuffle: per-shard doc count
    (uniform hash keys ⇒ balanced shards) + an even-key split as a
    cheap uniformity probe — one hash aggregate, no windows."""
    docs = load_table(spark, sf_dir, "documents")
    key = porthash(F.col("doc_id").cast("string"), "shuf0")
    return (
        docs.select(
            F.pmod(key, F.lit(8)).cast("int").alias("shard"),
            F.pmod(key, F.lit(2)).alias("par"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("docs"),
            F.sum(F.when(F.col("par") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("even_keys"),
        )
    )


@query(
    "corpus_interleave_sources",
    oracle=f"""
    WITH ranked AS (
      SELECT source, doc_id,
             row_number() OVER (
               PARTITION BY source
               ORDER BY {duck_porthash("CAST(doc_id AS VARCHAR)", "ilv")}, doc_id
             ) AS src_rank,
             1 + ({duck_porthash("source", "ilvw")}) % 3 AS w
      FROM documents
    ), sched AS (
      SELECT source, doc_id, src_rank,
             src_rank * 1000000 // w AS sched_x1m
      FROM ranked
      ORDER BY sched_x1m, source, doc_id LIMIT 100
    )
    SELECT row_number() OVER (ORDER BY sched_x1m, source, doc_id)
             AS global_pos,
           source, doc_id, src_rank, CAST(sched_x1m AS BIGINT) AS sched_x1m
    FROM sched
    """,
)
def corpus_interleave_sources_q(spark, sf_dir):
    """First 100 docs of the stride-scheduled interleave of all 20
    sources, with per-source weights 1-3 derived from the portable
    source hash (reproducible across engines)."""
    docs = load_table(spark, sf_dir, "documents")
    w = 1 + F.pmod(porthash(F.col("source"), "ilvw"), F.lit(3))
    return interleave_sources(docs, "source", "doc_id", w, prefix=100)


def _stratified_split_oracle(val_ppm: int, salt: str) -> str:
    h = duck_porthash("doc_id::VARCHAR", salt)
    return f"""
    WITH base AS (
      SELECT doc_id, source, lang, {h} AS h FROM documents
    ), cnt AS (
      SELECT source, lang, count(*)::BIGINT AS n_s FROM base GROUP BY source, lang
    ), tots AS (
      SELECT (sum(n_s)::BIGINT * {val_ppm}) // 1000000 AS t,
             sum((n_s * {val_ppm}) // 1000000)::BIGINT AS sum_base
      FROM cnt
    ), quota AS (
      SELECT source, lang,
             (n_s * {val_ppm}) // 1000000
             + CASE WHEN row_number() OVER (
                      ORDER BY (n_s * {val_ppm}) % 1000000 DESC, source, lang)
                    <= (SELECT t - sum_base FROM tots) THEN 1 ELSE 0 END AS q
      FROM cnt
    ), ranked AS (
      SELECT b.doc_id, b.source, b.lang, q.q,
             row_number() OVER (
               PARTITION BY b.source, b.lang ORDER BY b.h, b.doc_id) AS rn
      FROM base b JOIN quota q ON b.source = q.source AND b.lang = q.lang
    )
    SELECT doc_id, source, lang,
           CASE WHEN rn <= q THEN 'val' ELSE 'train' END AS split
    FROM ranked
    """


@query("corpus_stratified_split", oracle=_stratified_split_oracle(100_000, "strat"))
def corpus_stratified_split_q(spark, sf_dir):
    """Exact 10% stratified holdout over (source, lang): per-stratum
    largest-remainder quotas summing to exactly floor(N/10), membership
    by portable id hash."""
    docs = load_table(spark, sf_dir, "documents")
    return stratified_split(docs, "doc_id", ["source", "lang"], val_ppm=100_000)


def _budget_select_oracle(token_budget: int, bucket_div: int, salt: str) -> str:
    from dask_obj_spark.queries_text import duck_quality_select

    h = duck_porthash("CAST(doc_id AS VARCHAR)", salt)
    return f"""
    WITH q AS ({duck_quality_select()}),
    s AS (
      SELECT doc_id, n_tokens::BIGINT AS n_tok,
             CAST(floor(quality * 1000000.0) AS BIGINT) AS q_x1m,
             {h} AS hh
      FROM q
    ),
    b AS (SELECT *, q_x1m // {bucket_div} AS bkt FROM s),
    hst AS (SELECT bkt, sum(n_tok)::BIGINT AS btoks FROM b GROUP BY bkt),
    cand AS (
      SELECT bkt, cum_above FROM (
        SELECT bkt,
               coalesce(sum(btoks) OVER (
                 ORDER BY bkt DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
                 AS cum_above
        FROM hst
      ) WHERE cum_above < {token_budget}
    ),
    r AS (
      SELECT b.doc_id, b.q_x1m, b.n_tok, cand.cum_above,
             sum(b.n_tok) OVER (
               PARTITION BY b.bkt ORDER BY b.hh, b.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS rs
      FROM b JOIN cand ON b.bkt = cand.bkt
    )
    SELECT doc_id, q_x1m, n_tok FROM r WHERE rs + cum_above <= {token_budget}
    """


@query(
    "corpus_budget_select",
    oracle=_budget_select_oracle(10_000, 10_000, "budget"),
)
def corpus_budget_select_q(spark, sf_dir):
    """Best-quality documents filling a 10k-token training budget:
    integer quality histogram → bucket-threshold → boundary-bucket
    hash-ordered prefix; never a global sort."""
    docs = load_table(spark, sf_dir, "documents")
    return budget_select(docs, "doc_id", "text", token_budget=10_000)


def _epoch_schedule_oracle(budget_mult: int, rstar: float) -> str:
    return f"""
    WITH per AS (
      SELECT source,
             sum(len({duck_ws_tokens("text")}))::BIGINT AS n_s
      FROM documents GROUP BY source
    ), w AS (
      SELECT source, n_s,
             sum(n_s) OVER ()::BIGINT AS tot,
             floor(sqrt(n_s::DOUBLE) * 1000000.0)::BIGINT AS p
      FROM per
    ), w2 AS (
      SELECT *, sum(p) OVER ()::BIGINT AS s_w FROM w
    ), m AS (
      SELECT source, n_s, p, s_w,
             (({budget_mult} * tot)::DOUBLE * p::DOUBLE) / s_w::DOUBLE
               AS alloc,
             ((({budget_mult} * tot)::DOUBLE * p::DOUBLE) / s_w::DOUBLE)
               / n_s::DOUBLE AS epochs
      FROM w2
    )
    SELECT source,
           n_s AS n_tokens,
           floor((p::DOUBLE / s_w::DOUBLE) * 1000000.0)::BIGINT AS weight_x1m,
           floor(epochs * 1000000.0)::BIGINT AS epochs_x1m,
           floor(CASE WHEN epochs <= 1.0 THEN alloc
                 ELSE n_s::DOUBLE + n_s::DOUBLE * {rstar}
                      * (1.0 - exp(0.0 - (epochs - 1.0) / {rstar}))
                 END)::BIGINT AS eff_tokens,
           CASE WHEN floor(epochs * 1000000.0)::BIGINT <= 1000000
                  THEN 'unique'
                WHEN floor(epochs * 1000000.0)::BIGINT <= 4000000
                  THEN 'repeat'
                ELSE 'diminishing' END AS regime
    FROM m
    """


@query("corpus_epoch_schedule", oracle=_epoch_schedule_oracle(3, 15.0))
def corpus_epoch_schedule_q(spark, sf_dir):
    """Data-constrained epoch plan: a 3×-corpus token budget split by
    √n temperature weights, per-source epochs and repetition-discounted
    effective tokens (R* = 15), with the unique/repeat/diminishing
    regime flag."""
    docs = load_table(spark, sf_dir, "documents")
    return epoch_schedule(docs, "text", "source", budget_mult=3)


def _quality_psi_oracle() -> str:
    from dask_obj_spark.queries_text import duck_quality_select

    arm = " + ".join(f"t{k}" for k in range(10))
    terms = ", ".join(
        f"max(CASE WHEN bkt = {k} THEN t END) AS t{k}" for k in range(10)
    )
    return f"""
    WITH q AS ({duck_quality_select()}),
    scored AS (
      SELECT q.doc_id, least(floor(q.quality * 10.0)::INTEGER, 9) AS bkt,
             d.source AS src
      FROM q JOIN documents d ON q.doc_id = d.doc_id
    ),
    sb AS (SELECT src, bkt, count(*)::BIGINT AS c FROM scored GROUP BY src, bkt),
    grid AS (
      SELECT s.src, g.bkt, coalesce(sb.c, 0)::BIGINT AS c
      FROM (SELECT DISTINCT src FROM sb) s
      CROSS JOIN range(0, 10) g(bkt)
      LEFT JOIN sb ON sb.src = s.src AND sb.bkt = g.bkt
    ),
    ref AS (
      SELECT g.bkt, coalesce(s.rc, 0)::BIGINT AS rc
      FROM range(0, 10) g(bkt)
      LEFT JOIN (SELECT bkt, sum(c)::BIGINT AS rc FROM sb GROUP BY bkt) s
        ON s.bkt = g.bkt
    ),
    nr AS (SELECT sum(c)::BIGINT AS n FROM sb),
    t AS (
      SELECT grid.src,
             sum(grid.c) OVER (PARTITION BY grid.src)::BIGINT AS n_src,
             grid.bkt, grid.c, ref.rc
      FROM grid JOIN ref ON grid.bkt = ref.bkt
    ),
    terms AS (
      SELECT src, n_src, bkt,
             ((c::DOUBLE / n_src::DOUBLE + 0.0001) / 1.001
              - (rc::DOUBLE / (SELECT n FROM nr)::DOUBLE + 0.0001) / 1.001)
             * ln(((c::DOUBLE / n_src::DOUBLE + 0.0001) / 1.001)
                  / ((rc::DOUBLE / (SELECT n FROM nr)::DOUBLE + 0.0001) / 1.001)) AS t
      FROM t
    ),
    piv AS (
      SELECT src, n_src, {terms}
      FROM terms GROUP BY src, n_src
    )
    SELECT src AS source, n_src AS n_docs,
           floor((0.0 + {arm}) * 1000000.0)::BIGINT AS psi_x1m
    FROM piv
    """


@query("corpus_quality_psi", oracle=_quality_psi_oracle())
def corpus_quality_psi_q(spark, sf_dir):
    """Per-source quality-decile PSI vs the whole corpus — the drift
    tripwire, in exact integer micro-units."""
    docs = load_table(spark, sf_dir, "documents")
    return quality_psi_by_source(docs, "doc_id", "text", "source")


@query(
    "corpus_diff_snapshots",
    oracle="""
    WITH v1 AS (SELECT doc_id, text FROM documents),
    v2 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 17 = 2 THEN text || ' v2' ELSE text END AS text
      FROM documents WHERE doc_id % 13 <> 5
    ),
    j AS (
      SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
             v1.doc_id IS NOT NULL AS in_old,
             v2.doc_id IS NOT NULL AS in_new,
             md5(v1.text) AS oh, md5(v2.text) AS nh
      FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
    )
    SELECT doc_id,
           CASE WHEN NOT in_old THEN 'added'
                WHEN NOT in_new THEN 'removed'
                ELSE 'changed' END AS status
    FROM j
    WHERE NOT in_old OR NOT in_new OR oh IS DISTINCT FROM nh
    """,
)
def corpus_diff_snapshots_q(spark, sf_dir):
    """Snapshot diff demo: v2 drops every doc_id % 13 = 5 and edits
    every doc_id % 17 = 2; the diff reports exactly those as
    removed/changed (content-hash comparison, bodies never shuffled)."""
    docs = load_table(spark, sf_dir, "documents")
    v2 = docs.filter(F.col("doc_id") % 13 != 5).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 17 == 2, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return diff_snapshots(docs, v2, "doc_id", "text")


def _fim_oracle() -> str:
    h1 = duck_porthash("doc_id::VARCHAR", "fim1")
    h2 = duck_porthash("doc_id::VARCHAR", "fim2")
    return f"""
    WITH w AS (
      SELECT doc_id,
             {duck_ws_tokens("coalesce(text, '')")} AS ws
      FROM documents
    ), cuts AS (
      SELECT doc_id, ws, len(ws) AS n,
             CASE WHEN len(ws) >= 3
                  THEN 1 + ({h1}) % (len(ws) - 2) ELSE 0 END AS a
      FROM w
    ), cuts2 AS (
      SELECT doc_id, ws, n, a,
             CASE WHEN n >= 3
                  THEN 1 + ({h2}) % (n - a - 1) ELSE 0 END AS m
      FROM cuts
    ), parts AS (
      SELECT doc_id, CAST(n AS BIGINT) AS n_words,
             CAST(CASE WHEN n >= 3 THEN 1 ELSE 0 END AS BIGINT) AS fim,
             CASE WHEN n >= 3 THEN array_to_string(ws[1:a], ' ')
                  ELSE array_to_string(ws, ' ') END AS prefix,
             CASE WHEN n >= 3 THEN array_to_string(ws[a+1:a+m], ' ')
                  ELSE '' END AS middle,
             CASE WHEN n >= 3 THEN array_to_string(ws[a+m+1:n], ' ')
                  ELSE '' END AS suffix
      FROM cuts2
    )
    SELECT doc_id, n_words, fim, prefix, middle, suffix,
           '<PRE>' || prefix || '<SUF>' || suffix || '<MID>' || middle AS psm
    FROM parts
    """


@query("corpus_fim_transform", oracle=_fim_oracle())
def corpus_fim_transform_q(spark, sf_dir):
    """Fill-in-the-middle training examples for every document: two
    hash-deterministic word-boundary cuts, PSM-format output — pure
    scan→project column algebra, reproducible across engines and
    partitionings."""
    docs = load_table(spark, sf_dir, "documents")
    return fim_transform(docs, "doc_id", "text")


def _span_corruption_oracle(start_mod: int = 7, span_len: int = 3) -> str:
    h = duck_porthash("doc_id::VARCHAR || ':' || i::VARCHAR", "sc")
    return f"""
    WITH w AS (
      SELECT doc_id,
             list_filter({duck_ws_tokens("coalesce(text, '')")},
                         x -> x <> '') AS ws
      FROM documents
    ), toks AS (
      SELECT doc_id, unnest(range(1, len(ws) + 1)) AS i, ws FROM w
    ), flagged AS (
      SELECT doc_id, i::BIGINT AS i, ws[i::INT] AS w,
             CASE WHEN ({h}) % {start_mod} = 0 THEN 1 ELSE 0 END AS sf
      FROM toks
    ), spread AS (
      SELECT *, max(sf) OVER (PARTITION BY doc_id ORDER BY i
                              ROWS BETWEEN {span_len - 1} PRECEDING
                              AND CURRENT ROW) AS masked
      FROM flagged
    ), runs AS (
      SELECT *,
             CASE WHEN masked = 1 AND coalesce(lag(masked) OVER
                    (PARTITION BY doc_id ORDER BY i), 0) = 0
                  THEN 1 ELSE 0 END AS new_run
      FROM spread
    ), numbered AS (
      SELECT *, sum(new_run) OVER (PARTITION BY doc_id ORDER BY i
                                   ROWS UNBOUNDED PRECEDING) AS run_k
      FROM runs
    ), pieces AS (
      SELECT doc_id, i, masked, run_k,
             CASE WHEN masked = 0 THEN w
                  WHEN new_run = 1 THEN '<X_' || run_k || '>' END AS pin,
             CASE WHEN masked = 1 AND new_run = 1
                    THEN '<X_' || run_k || '> ' || w
                  WHEN masked = 1 THEN w END AS ptg
      FROM numbered
    )
    SELECT doc_id,
           count(*)::BIGINT AS n_tokens,
           CAST(sum(masked) AS BIGINT) AS n_masked,
           CAST(max(run_k) AS BIGINT) AS n_spans,
           coalesce(string_agg(pin, ' ' ORDER BY i), '') AS model_input,
           coalesce(string_agg(ptg, ' ' ORDER BY i), '') AS model_target
    FROM pieces GROUP BY doc_id
    """


@query("corpus_span_corruption", oracle=_span_corruption_oracle())
def corpus_span_corruption_q(spark, sf_dir):
    """T5 denoising pairs for every document: hash-deterministic span
    starts (1-in-7 positions, length-3 spans, overlaps merged),
    numbered <X_k> sentinels, (model_input, model_target) assembled
    order-exactly in one keyed aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    return span_corruption(docs, "doc_id", "text")


def _waterfill_oracle(budget_tokens: int) -> str:
    from dask_obj_spark.queries_text import duck_quality_select

    return f"""
    WITH q AS ({duck_quality_select()}),
    src AS (
      SELECT d.source, count(*)::BIGINT AS n_docs,
             CAST(sum(q.n_tokens) AS BIGINT) AS cap_tokens,
             CAST(sum(floor(q.quality * 1e6)::BIGINT) AS BIGINT) AS qsum_u
      FROM q JOIN documents d ON q.doc_id = d.doc_id
      GROUP BY d.source
    ),
    ranked AS (
      SELECT *, qsum_u // n_docs AS mq_u,
             CAST(sum(cap_tokens) OVER (ORDER BY qsum_u // n_docs DESC, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cap_tokens
               AS BIGINT) AS prefix_tokens
      FROM src
    )
    SELECT source, n_docs, mq_u, cap_tokens, prefix_tokens,
           greatest(0, least(cap_tokens, {budget_tokens} - prefix_tokens))::BIGINT
             AS alloc_tokens,
           CAST(CASE WHEN greatest(0, least(cap_tokens,
                  {budget_tokens} - prefix_tokens)) = cap_tokens
                THEN 1 ELSE 0 END AS BIGINT) AS filled
    FROM ranked
    """


@query("corpus_budget_waterfill", oracle=_waterfill_oracle(20000))
def corpus_budget_waterfill_q(spark, sf_dir):
    """Water-fill a 20k-token budget across sources by mean quality:
    full capacity in rank order, remainder to the boundary source —
    integer algebra end to end over one corpus scan + a
    dimension-sized window."""
    docs = load_table(spark, sf_dir, "documents")
    return budget_waterfill(docs, "doc_id", "text", "source", 20000)


@query(
    "corpus_kfold_exact",
    oracle=f"""
    SELECT doc_id, source AS stratum,
           ((row_number() OVER (
               PARTITION BY source
               ORDER BY ('0x' || substr(md5(doc_id::VARCHAR || '#kfold'), 1, 15))::BIGINT,
                        doc_id) - 1) % 5)::BIGINT AS fold
    FROM documents
    """,
)
def corpus_kfold_exact_q(spark, sf_dir):
    """Exact stratified 5-fold assignment over sources: hash-ranked
    round-robin within each stratum — every (source, fold) cell within
    one doc of perfect balance, stable across reshuffles."""
    docs = load_table(spark, sf_dir, "documents")
    return kfold_exact(docs, "doc_id", "source", 5)


def _leakage_split_oracle() -> str:
    # the hash_split cutoffs for {"train": .8, "val": .1, "test": .1}
    return _clusters_with(
        [
            """assigned AS (
      SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
    )"""
        ],
        """
    SELECT doc_id, cluster_id,
           CASE
             WHEN ('0x' || substr(md5(cluster_id::VARCHAR || '#split'), 1, 15))::BIGINT
                  % 1000000 < 800000 THEN 'train'
             WHEN ('0x' || substr(md5(cluster_id::VARCHAR || '#split'), 1, 15))::BIGINT
                  % 1000000 < 900000 THEN 'val'
             ELSE 'test'
           END AS split
    FROM assigned
    """,
    )


@query("corpus_leakage_safe_split", oracle=_leakage_split_oracle())
def corpus_leakage_safe_split_q(spark, sf_dir):
    """80/10/10 split hashed on the near-dup cluster id: every member
    of a MinHash cluster lands on the same side, so paraphrase
    leakage across train/val/test is structurally impossible."""
    docs = load_table(spark, sf_dir, "documents")
    from dask_obj_spark.operators.dedup import minhash_candidate_pairs

    pairs = minhash_candidate_pairs(docs, "doc_id", "text", 16, 4, 4, 0.5).select(
        "id1", "id2"
    )
    return leakage_safe_split(
        docs, pairs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )


@query(
    "corpus_pack_segments",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             len({duck_ws_tokens("text")})::BIGINT AS n_tokens
      FROM documents
    ), binned AS (
      SELECT doc_id, source, n_tokens,
             CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens)
                / 512.0) AS BIGINT) AS bin_id
      FROM t
    ), seg AS (
      SELECT source, bin_id, doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (PARTITION BY source, bin_id ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
                AS BIGINT) AS start
      FROM binned
    )
    SELECT source, bin_id,
           count(*)::BIGINT AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
           string_agg(doc_id::VARCHAR || ':' || start::VARCHAR || ':'
                      || n_tokens::VARCHAR, '|' ORDER BY doc_id) AS segments
    FROM seg GROUP BY source, bin_id
    """,
)
def corpus_pack_segments_q(spark, sf_dir):
    """Segment tables for 512-token packed rows per source stream:
    (doc:start:len)|... in id order — the attention-boundary metadata
    that prevents packed sequences from cross-attending between
    documents."""
    docs = load_table(spark, sf_dir, "documents")
    return pack_segments(docs, "doc_id", "text", "source", 512)


@query(
    "corpus_ngram_novelty",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, unnest({duck_word_shingles("text", 3)}) AS g
      FROM documents
    ), nonempty AS (
      SELECT doc_id, g FROM sh WHERE g <> ''
    ), first AS (
      SELECT g, min(doc_id) AS first_id FROM nonempty GROUP BY g
    )
    SELECT s.doc_id,
           count(*)::BIGINT AS n_distinct_grams,
           CAST(sum(CASE WHEN f.first_id = s.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(sum(CASE WHEN f.first_id = s.doc_id THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS BIGINT) AS novelty_x1m
    FROM nonempty s JOIN first f ON s.g = f.g
    GROUP BY s.doc_id
    """,
)
def corpus_ngram_novelty_q(spark, sf_dir):
    """Fraction of each document's distinct 3-gram shingles first seen
    in that document (arrival = id order) — the marginal-information
    curve behind dedup/budget ROI."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_novelty(docs, "doc_id", "text", 3)


def _qnorm_oracle() -> str:
    from dask_obj_spark.queries_text import duck_quality_select

    return f"""
    WITH q AS ({duck_quality_select()}),
    j AS (
      SELECT q.doc_id, d.source, q.quality,
             floor(q.quality * 1e6)::BIGINT AS quality_u
      FROM q JOIN documents d ON q.doc_id = d.doc_id
    )
    SELECT doc_id, source, quality_u,
           CAST(row_number() OVER (PARTITION BY source
                                   ORDER BY quality, doc_id)
                * 1000000 // count(*) OVER (PARTITION BY source)
                AS BIGINT) AS qnorm_x1m
    FROM j
    """


@query("corpus_quality_qnorm", oracle=_qnorm_oracle())
def corpus_quality_qnorm_q(spark, sf_dir):
    """Per-source quantile-normalized quality: rank·1e6 DIV group size,
    ties by doc id — "top k% of every domain" calibrated identically
    across sources, no global sort."""
    docs = load_table(spark, sf_dir, "documents")
    return quality_quantile_norm(docs, "doc_id", "text", "source")


def _length_hist_oracle() -> str:
    arms = " ".join(
        f"WHEN n >= {1 << (b - 1)} THEN {b}" for b in range(31, 0, -1)
    )
    return f"""
    WITH t AS (
      SELECT len(list_filter(
               {duck_ws_tokens("coalesce(text, '')")},
               x -> x <> ''))::BIGINT AS n
      FROM documents
    ), b AS (
      SELECT n, CAST(CASE {arms} ELSE 0 END AS BIGINT) AS bucket FROM t
    )
    SELECT bucket, count(*)::BIGINT AS n_docs,
           CAST(sum(n) AS BIGINT) AS sum_tokens,
           CAST(min(n) AS BIGINT) AS min_tokens,
           CAST(max(n) AS BIGINT) AS max_tokens
    FROM b GROUP BY bucket
    """


@query("corpus_length_histogram", oracle=_length_hist_oracle())
def corpus_length_histogram_q(spark, sf_dir):
    """Power-of-two token-length histogram (bit_length buckets via the
    pure-integer comparison chain) with per-bucket doc/token totals —
    the padding-waste/packing readout."""
    docs = load_table(spark, sf_dir, "documents")
    return length_histogram(docs, "doc_id", "text")


@query(
    "corpus_decontam_impact",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, unnest({duck_word_shingles("text", 8)}) AS sh
      FROM documents
    ), ev AS (
      SELECT DISTINCT sh FROM sh WHERE doc_id % 20 = 0
    ), flagged AS (
      SELECT DISTINCT s.doc_id FROM sh s JOIN ev ON s.sh = ev.sh
      WHERE s.doc_id % 20 <> 0
    ), train AS (
      SELECT d.doc_id, d.source,
             len(list_filter({duck_ws_tokens("coalesce(d.text, '')")}, x -> x <> ''))::BIGINT AS n_tokens,
             CASE WHEN f.doc_id IS NULL THEN 0 ELSE 1 END AS dropped
      FROM documents d LEFT JOIN flagged f ON d.doc_id = f.doc_id
      WHERE d.doc_id % 20 <> 0
    ), agg AS (
      SELECT source,
             CAST(sum(CASE WHEN dropped = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
             CAST(sum(CASE WHEN dropped = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
             CAST(sum(CASE WHEN dropped = 0 THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept,
             CAST(sum(CASE WHEN dropped = 1 THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_dropped
      FROM train GROUP BY source
    )
    SELECT source, n_kept, n_dropped, tokens_kept, tokens_dropped,
           CAST(tokens_dropped * 1000000
                // greatest(tokens_kept + tokens_dropped, 1) AS BIGINT)
             AS drop_share_x1m
    FROM agg
    """,
)
def corpus_decontam_impact_q(spark, sf_dir):
    """Decontamination cost per source: kept/dropped docs and tokens
    plus the dropped-token share in micro-units, for the 8-gram
    eval-overlap filter — the pre-apply audit."""
    docs = load_table(spark, sf_dir, "documents")
    return decontam_impact(docs, "doc_id", "text", "source")
