"""Query registrations and DuckDB oracles for ``operators/dedup.py``."""

from __future__ import annotations

from pyspark.sql import functions as F

from dask_obj_spark.functions.hashing import (
    duck_porthash,
    duck_word_shingles,
    duck_ws_tokens,
)
from dask_obj_spark.functions.vec import DUCK, cosine_sql
from dask_obj_spark.operators.dedup import (
    SIMHASH_BITS,
    _SN_BLOCK_LEN,
    _SN_KEY_LEN,
    containment_pairs,
    embedding_near_dups,
    exact_dedup_groups,
    fuzzy_name_pairs,
    lsh_bands,
    minhash_candidate_pairs,
    minhash_estimate_error,
    minhash_signature,
    ngram_jaccard_pairs,
    prefix_jaccard_pairs,
    semantic_dedup,
    simhash_fingerprint,
    simhash_near_pairs,
    sorted_neighborhood_pairs,
)
from dask_obj_spark.operators.similarity import DIM as _SIM_DIM
from dask_obj_spark.pinning import pin
from dask_obj_spark.queries import query
from dask_obj_spark.queries_similarity import _duck_base, _duck_ivf_cells, _duck_with
from dask_obj_spark.sources import load_table


def _duck_sig_cte(num_hashes: int, shingle_n: int) -> str:
    sh = duck_word_shingles("text", shingle_n)
    mins = ", ".join(
        f"list_min(list_transform(sh, s -> {duck_porthash('s', str(i))})) AS m{i}"
        for i in range(num_hashes)
    )
    return f"""shingled AS (
      SELECT doc_id, {sh} AS sh FROM documents
    ), sig AS (
      SELECT doc_id, {mins} FROM shingled
    )"""


def _duck_bands_select(num_hashes: int, bands: int) -> str:
    rows = num_hashes // bands
    parts = []
    for b in range(bands):
        cols = " || ',' || ".join(
            f"CAST(m{b * rows + r} AS VARCHAR)" for r in range(rows)
        )
        parts.append(f"SELECT doc_id, {b} AS band_id, md5({cols}) AS band_hash FROM sig")
    return " UNION ALL ".join(parts)


@query(
    "dedup_exact_groups",
    oracle="""
    SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id,
           count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact_groups_q(spark, sf_dir):
    """Exact dedup (BASELINE B6 first half)."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup_groups(docs, "doc_id", "text")


@query(
    "dedup_minhash_bands",
    oracle=_duck_with([_duck_sig_cte(16, 4)], _duck_bands_select(16, 4)),
)
def dedup_minhash_bands_q(spark, sf_dir):
    """MinHash LSH banding table — the full signature pipeline is
    oracle-checked bit-for-bit via the portable md5-derived hash."""
    docs = load_table(spark, sf_dir, "documents")
    sig = minhash_signature(docs, "doc_id", "text", 16, 4)
    return lsh_bands(sig, 4, 4)


def _duck_pairs_ctes(
    num_hashes: int, bands: int, threshold: float, shingle_n: int = 4
) -> str:
    """sig CTE + bands + cand + ``pairs(id1, id2, est_jaccard)`` — the
    complete minhash_candidate_pairs() computation as DuckDB SQL (shared
    with the connected-components oracle in queries_corpus.py).  ``shingle_n``
    is an explicit parameter: it was previously conflated with ``bands``
    (correct only while both happened to equal 4)."""
    est = (
        "round(("
        + " + ".join(f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END" for i in range(num_hashes))
        + f") / {num_hashes}.0, 6)"
    )
    return (
        _duck_sig_cte(num_hashes, shingle_n)
        + ", bands AS ("
        + _duck_bands_select(num_hashes, bands)
        + f"""), cand AS (
      SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    ), pairs AS (
      SELECT id1, id2, {est} AS est_jaccard
      FROM cand JOIN sig sa ON cand.id1 = sa.doc_id
                JOIN sig sb ON cand.id2 = sb.doc_id
      WHERE {est} >= {threshold}
    )"""
    )


@query(
    "dedup_minhash_pairs",
    oracle=_duck_with(
        [_duck_pairs_ctes(16, 4, 0.5)], "SELECT id1, id2, est_jaccard FROM pairs"
    ),
)
def dedup_minhash_pairs_q(spark, sf_dir):
    """MinHash-LSH near-dup candidate pairs (BASELINE B6 second half)."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_candidate_pairs(docs, "doc_id", "text", 16, 4, 4, 0.5)


def _duck_shingle_sizes(n: int, max_freq: int | None = None) -> str:
    """CTEs ``sh(doc_id, shingle)`` — each document's distinct word
    n-gram shingles, minus those in more than ``max_freq`` documents when
    given (the `max_shingle_freq` skew guard) — and ``sizes(doc_id,
    n_sh)``, the operands of every exact shingle-Jaccard oracle."""
    shingles = f"""
      SELECT DISTINCT doc_id, unnest({duck_word_shingles("text", n)}) AS shingle
      FROM documents
    """
    if max_freq is None:
        head = f"sh AS ({shingles})"
    else:
        head = f"""sh0 AS ({shingles}), hot AS (
      SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > {max_freq}
    ), sh AS (
      SELECT doc_id, shingle FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)
    )"""
    return head + """, sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
    )"""


# ``inter(id1, id2, n_common)``: the shingles each doc pair id1 < id2 shares
_DUCK_INTER = """inter AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )"""


def _ngram_jaccard_oracle(max_freq: int | None) -> str:
    """Exact 4-shingle Jaccard >= 0.6 pairs (`ngram_jaccard_pairs`)."""
    return _duck_with(
        [_duck_shingle_sizes(4, max_freq), _DUCK_INTER],
        """
    SELECT id1, id2,
           round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
    FROM inter JOIN sizes sa ON id1 = sa.doc_id
               JOIN sizes sb ON id2 = sb.doc_id
    WHERE round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) >= 0.6
    """,
    )


@query("dedup_ngram_jaccard", oracle=_ngram_jaccard_oracle(None))
def dedup_ngram_jaccard_q(spark, sf_dir):
    """Exact n-gram Jaccard pairs ≥ 0.6 (verification-grade near-dup)."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", "text", 4, 0.6, max_shingle_freq=None)


@query("dedup_ngram_jaccard_capped", oracle=_ngram_jaccard_oracle(2))
def dedup_ngram_jaccard_capped_q(spark, sf_dir):
    """Jaccard with the `max_shingle_freq` skew guard ON (stop-shingles
    appearing in > 2 docs dropped before the inverted-index join) — the
    guarded path is the one that runs at 100 TB, so it gets its own
    oracle row rather than inheriting the unguarded query's evidence."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, "doc_id", "text", 4, 0.6, max_shingle_freq=2)


# fingerprint computation as a DuckDB CTE chain, shared by the fingerprint
# and near-pair oracles (ends with the `fp` relation: doc_id, fingerprint)
_DUCK_SIMHASH_FP = (
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({duck_ws_tokens("text")}) AS tok
      FROM documents
    ), hashed AS (
      SELECT doc_id, """
    + duck_porthash("tok", "sim")
    + """ AS h FROM toks
    ), votes AS (
      SELECT doc_id, """
    + ", ".join(
        f"sum(((h >> {b}) & 1) * 2 - 1) AS v{b}" for b in range(SIMHASH_BITS)
    )
    + """ FROM hashed GROUP BY doc_id
    ), fp AS (
      SELECT doc_id, CAST("""
    + " + ".join(
        f"CASE WHEN v{b} > 0 THEN {2**b} ELSE 0 END" for b in range(SIMHASH_BITS)
    )
    + """ AS BIGINT) AS fingerprint FROM votes
    )"""
)


@query(
    "dedup_simhash",
    oracle=_DUCK_SIMHASH_FP + "\n    SELECT doc_id, fingerprint FROM fp\n",
)
def dedup_simhash_q(spark, sf_dir):
    """SimHash fingerprints, oracle-checked bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_fingerprint(docs, "doc_id", "text")


@query(
    "dedup_simhash_pairs",
    oracle=_DUCK_SIMHASH_FP
    + """
    SELECT a.doc_id AS id1, b.doc_id AS id2,
           bit_count(xor(a.fingerprint, b.fingerprint)) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.fingerprint, b.fingerprint)) <= 3
    """,
)
def dedup_simhash_pairs_q(spark, sf_dir):
    """SimHash near-dup pairs (Hamming ≤ 3) via (max_hamming+1)-block
    pigeonhole buckets — complete recall, so the brute-force all-pairs
    SQL is an exact oracle; the bucketed join is the scale path."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_pairs(simhash_fingerprint(docs, "doc_id", "text"))


@query(
    "dedup_embedding_cosine",
    oracle=_duck_with(
        [_duck_base(50)],
        """
    SELECT pid AS id1, vid AS id2,
           round(list_dot_product(pv, v) /
                 (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(v, v))), 6)
             AS cosine
    FROM base JOIN probes ON pid < vid
    WHERE round(list_dot_product(pv, v) /
                (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(v, v))), 6)
          >= 0.2
    """,
    ),
)
def dedup_embedding_cosine_q(spark, sf_dir):
    """Embedding-cosine near-dup: probe set × corpus with broadcast join."""
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dups(emb, "vec_id", "embedding", probe_mod=50, threshold=0.2)


def _semantic_cells_ctes(tau: float, cell_mod: int, dim: int) -> str:
    """The CTEs (base → IVF cells → dropped) replaying `semantic_dedup`'s
    deterministic cell index — shared by the dedup oracle and the
    capstone pipeline oracle in queries_corpus.py so the replay logic
    exists exactly once."""
    cos_pair = cosine_sql("a.v", "b.v", dim, DUCK)
    return f"""{_duck_base()}, {_duck_ivf_cells(cell_mod, dim)}, dropped AS (
      SELECT DISTINCT a.vid
      FROM cells a JOIN cells b ON a.cid = b.cid AND b.vid < a.vid
      WHERE round({cos_pair}, 6) >= {tau}
    )"""


def _semantic_dedup_oracle(tau: float, cell_mod: int, dim: int) -> str:
    return _duck_with(
        [_semantic_cells_ctes(tau, cell_mod, dim)],
        """
    SELECT c.vid, c.cid AS cell, d.vid IS NULL AS keep
    FROM cells c LEFT JOIN dropped d ON c.vid = d.vid
    """,
    )


@query("dedup_semantic", oracle=_semantic_dedup_oracle(0.35, 61, _SIM_DIM))
def dedup_semantic_q(spark, sf_dir):
    """SemDeDup semantic dedup: coarse cells + within-cell greedy cosine
    prune (tau=0.35 against this corpus's cosine distribution), keeper =
    lowest id. Oracle replays the deterministic cell index exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, "vec_id", "embedding", tau=0.35)


@query(
    "dedup_fuzzy_names",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name AS n FROM part),
    toks AS (SELECT n, unnest(string_split(n, ' ')) AS w FROM names),
    cand AS (
      SELECT DISTINCT a.n AS n1, b.n AS n2
      FROM toks a JOIN toks b ON a.w = b.w AND a.n < b.n
    )
    SELECT n1, n2, levenshtein(n1, n2) AS dist FROM cand
    WHERE levenshtein(n1, n2) <= 3
    """,
)
def dedup_fuzzy_names_q(spark, sf_dir):
    """Token-blocked levenshtein<=3 pairs over distinct part names."""
    return fuzzy_name_pairs(load_table(spark, sf_dir, "part"), "p_name", 3)


@query(
    "dedup_prefix_jaccard",
    oracle=f"""
    WITH toks AS (
      SELECT DISTINCT doc_id AS id,
             unnest(list_distinct({duck_ws_tokens("text")})) AS w
      FROM documents
    ), sizes AS (
      SELECT id, count(*) AS sz FROM toks GROUP BY id
    ), dfreq AS (
      SELECT w, count(*) AS dfw FROM toks GROUP BY w
    ), ranked AS (
      SELECT t.id, t.w, s.sz,
             row_number() OVER (PARTITION BY t.id ORDER BY d.dfw, t.w) AS rk
      FROM toks t JOIN dfreq d ON d.w = t.w JOIN sizes s ON s.id = t.id
    ), prefix AS (
      SELECT id, w FROM ranked WHERE rk <= sz - ceil(0.7 * sz) + 1
    ), cand AS (
      SELECT DISTINCT a.id AS id1, b.id AS id2
      FROM prefix a JOIN prefix b ON a.w = b.w AND a.id < b.id
    ), lists AS (
      SELECT id, list(w) AS ws FROM toks GROUP BY id
    ), inter AS (
      SELECT c.id1, c.id2, len(list_intersect(la.ws, lb.ws)) AS i
      FROM cand c
      JOIN lists la ON la.id = c.id1
      JOIN lists lb ON lb.id = c.id2
    )
    SELECT i.id1, i.id2,
           round(i.i / (s1.sz + s2.sz - i.i), 6) AS jaccard
    FROM inter i
    JOIN sizes s1 ON s1.id = i.id1
    JOIN sizes s2 ON s2.id = i.id2
    WHERE round(i.i / (s1.sz + s2.sz - i.i), 6) >= 0.7
    """,
)
def dedup_prefix_jaccard_q(spark, sf_dir):
    """PPJoin-style prefix-filtered Jaccard >= 0.7 pairs over document
    token sets (sound candidate pruning, no frequency-cap heuristic)."""
    return prefix_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", 0.7
    )


@query(
    "dedup_sorted_neighborhood",
    oracle=_duck_with(
        [
            """keyed AS (
      SELECT doc_id,
             substr(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                    1, """ + str(_SN_KEY_LEN) + """) AS sn_key
      FROM documents
    ), blocked AS (
      SELECT doc_id, sn_key, substr(sn_key, 1, """ + str(_SN_BLOCK_LEN) + """) AS block
      FROM keyed
    ), nbrs AS (
      SELECT doc_id,
             lead(doc_id, 1) OVER (PARTITION BY block ORDER BY sn_key, doc_id) AS n1,
             lead(doc_id, 2) OVER (PARTITION BY block ORDER BY sn_key, doc_id) AS n2
      FROM blocked
    ), cand0 AS (
      SELECT doc_id, n1 AS nbr FROM nbrs WHERE n1 IS NOT NULL
      UNION ALL
      SELECT doc_id, n2 AS nbr FROM nbrs WHERE n2 IS NOT NULL
    ), cand AS (
      SELECT DISTINCT least(doc_id, nbr) AS id1, greatest(doc_id, nbr) AS id2
      FROM cand0
    )""",
            _duck_shingle_sizes(4),
            """inter AS (
      SELECT c.id1, c.id2, count(*) AS n_common
      FROM cand c
        JOIN sh a ON a.doc_id = c.id1
        JOIN sh b ON b.doc_id = c.id2 AND b.shingle = a.shingle
      GROUP BY c.id1, c.id2
    )""",
        ],
        """
    SELECT id1, id2,
           round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
    FROM inter JOIN sizes sa ON id1 = sa.doc_id
               JOIN sizes sb ON id2 = sb.doc_id
    WHERE round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) >= 0.2
    """,
    ),
)
def dedup_sorted_neighborhood_q(spark, sf_dir):
    """Sorted-neighborhood candidate pairs (block on 4-char key prefix,
    window 2) verified by exact 4-shingle Jaccard ≥ 0.2."""
    docs = load_table(spark, sf_dir, "documents")
    return sorted_neighborhood_pairs(docs, "doc_id", "text", 4, 0.2)


@query(
    "dedup_minhash_est_error",
    oracle=_duck_with(
        [
            _duck_pairs_ctes(16, 4, 0.5),
            _duck_shingle_sizes(4),
            """inter AS (
      SELECT p.id1, p.id2, count(*) AS n_common
      FROM pairs p
        JOIN sh a ON a.doc_id = p.id1
        JOIN sh b ON b.doc_id = p.id2 AND b.shingle = a.shingle
      GROUP BY p.id1, p.id2
    ), ex AS (
      SELECT p.id1, p.id2, p.est_jaccard,
             coalesce(round(i.n_common / (sa.n_sh + sb.n_sh - i.n_common), 6), 0.0)
               AS exact_jaccard
      FROM pairs p
        LEFT JOIN inter i ON i.id1 = p.id1 AND i.id2 = p.id2
        JOIN sizes sa ON p.id1 = sa.doc_id
        JOIN sizes sb ON p.id2 = sb.doc_id
    )""",
        ],
        """
    SELECT id1, id2, est_jaccard, exact_jaccard,
           round(abs(est_jaccard - exact_jaccard), 6) AS abs_err
    FROM ex
    """,
    ),
)
def dedup_minhash_est_error_q(spark, sf_dir):
    """Signature-estimate vs exact Jaccard on every LSH candidate pair
    (16 hashes, 4 bands, est >= 0.5) with the absolute error."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_estimate_error(docs, "doc_id", "text", 16, 4, 4, 0.5)


@query(
    "dedup_containment_pairs",
    oracle=_duck_with(
        [
            _duck_shingle_sizes(4),
            """inter AS (
      SELECT a.doc_id AS id_from, b.doc_id AS id_to, count(*) AS n_common
      FROM sh a JOIN sh b
        ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )""",
        ],
        """
    SELECT id_from, id_to,
           round(n_common / sa.n_sh, 6) AS containment
    FROM inter JOIN sizes sa ON id_from = sa.doc_id
    WHERE round(n_common / sa.n_sh, 6) >= 0.5
    """,
    ),
)
def dedup_containment_pairs_q(spark, sf_dir):
    """Directed shingle-containment pairs >= 0.5 (doc-inside-doc
    screen; each direction scored separately)."""
    docs = load_table(spark, sf_dir, "documents")
    return containment_pairs(docs, "doc_id", "text", 4, 0.5, max_shingle_freq=None)


@query(
    "dedup_lsh_precision_recall",
    oracle=_duck_with(
        [
            _duck_pairs_ctes(16, 4, 0.0),
            _duck_shingle_sizes(4),
            _DUCK_INTER,
            """truth AS (
      SELECT id1, id2
      FROM inter JOIN sizes sa ON id1 = sa.doc_id
                 JOIN sizes sb ON id2 = sb.doc_id
      WHERE round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) >= 0.6
    ), cand_set AS (
      SELECT DISTINCT id1, id2 FROM pairs
    ), hits AS (
      SELECT count(*) AS n FROM cand_set c
      WHERE EXISTS (SELECT 1 FROM truth t WHERE t.id1 = c.id1 AND t.id2 = c.id2)
    )""",
        ],
        """
    SELECT (SELECT count(*) FROM cand_set)::BIGINT AS n_candidates,
           (SELECT count(*) FROM truth)::BIGINT AS n_truth,
           (SELECT n FROM hits)::BIGINT AS n_hits,
           round((SELECT n FROM hits) * 1.0
                 / greatest((SELECT count(*) FROM cand_set), 1), 6) AS precision,
           round((SELECT n FROM hits) * 1.0
                 / greatest((SELECT count(*) FROM truth), 1), 6) AS recall
    """,
    ),
)
def dedup_lsh_precision_recall_q(spark, sf_dir):
    """Set-level quality of the LSH banding stage: precision and recall
    of the candidate pairs (16 hashes / 4 bands, no estimate floor)
    against exact-Jaccard >= 0.6 ground truth — the companion evidence
    row to dedup_minhash_est_error (which scores the ESTIMATOR; this
    scores the BUCKETING).  At 100 TB this query runs on a sample to
    tune bands/rows before the full sweep — the shape is identical."""
    docs = load_table(spark, sf_dir, "documents")
    cand = minhash_candidate_pairs(
        docs, "doc_id", "text", 16, 4, 4, 0.0
    ).select("id1", "id2").distinct()
    truth = ngram_jaccard_pairs(
        docs, "doc_id", "text", 4, 0.6, max_shingle_freq=None
    ).select("id1", "id2")
    cand = pin(cand)
    truth = pin(truth)
    hits = cand.join(truth, ["id1", "id2"], "left_semi")
    n_cand = cand.count()
    n_truth = truth.count()
    n_hits = hits.count()
    return docs.sparkSession.createDataFrame(
        [(n_cand, n_truth, n_hits,
          round(n_hits / max(n_cand, 1), 6),
          round(n_hits / max(n_truth, 1), 6))],
        "n_candidates long, n_truth long, n_hits long, precision double, recall double",
    )


@query(
    "er_canonical_entities",
    oracle="""
    WITH RECURSIVE names AS (
      SELECT DISTINCT p_name AS n FROM part
    ), toks AS (
      SELECT n, unnest(string_split(n, ' ')) AS w FROM names
    ), cand AS (
      SELECT DISTINCT a.n AS n1, b.n AS n2
      FROM toks a JOIN toks b ON a.w = b.w AND a.n < b.n
    ), prs AS (
      SELECT n1, n2 FROM cand WHERE levenshtein(n1, n2) <= 3
    ), ed AS (
      SELECT n1 AS s, n2 AS d FROM prs UNION ALL SELECT n2, n1 FROM prs
    ), reach AS (
      SELECT s AS id, s AS lbl FROM ed
      UNION
      SELECT e.d AS id, r.lbl
      FROM reach r JOIN ed e ON e.s = r.id
      WHERE r.lbl < e.d
    ), comp AS (
      SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id
    ), er AS (
      SELECT nm.n AS name, coalesce(c.cluster_id, nm.n) AS entity_id
      FROM names nm LEFT JOIN comp c ON c.id = nm.n
    ), sizes AS (
      SELECT entity_id, count(*) AS n_variants FROM er GROUP BY entity_id
    )
    SELECT e.name, e.entity_id,
           CAST(e.name = e.entity_id AS INT) AS is_canonical,
           CAST(s.n_variants AS BIGINT) AS n_variants
    FROM er e JOIN sizes s ON s.entity_id = e.entity_id
    """,
)
def er_canonical_entities_q(spark, sf_dir):
    """Entity resolution end-to-end: token-blocked edit-distance pairs
    (`fuzzy_name_pairs`) → connected components (large-star/small-star)
    → canonical entity per cluster (lexicographic min name) with variant
    counts — the catalog-dedup capstone a reference user runs as ONE
    operator (match → cluster → survivorship).

    The min-label semantics work unchanged on string vertex ids (min is
    lexicographic); singleton names never enter the edge list and pass
    through as their own entity.  Scale: blocking bounds candidate
    generation, components converge in O(log n) rounds, survivorship is
    one dimension-sized aggregate — the oracle replays match + cluster
    via a pruned recursive CTE (labels only propagate downhill, so the
    recursion carries O(V·avg-labels) rows, and min() collapses it)."""
    # local import: corpus.py imports from this module at top level
    from dask_obj_spark.operators.corpus import connected_components

    part = load_table(spark, sf_dir, "part")
    names = part.select(F.col("p_name").alias("name")).distinct()
    pairs = fuzzy_name_pairs(part, "p_name", 3)
    comp = connected_components(pairs, "n1", "n2")
    er = names.join(
        comp.select(F.col("id").alias("name"), "cluster_id"), "name", "left"
    ).select(
        "name", F.coalesce("cluster_id", "name").alias("entity_id")
    )
    sizes = er.groupBy("entity_id").agg(F.count(F.lit(1)).alias("n_variants"))
    return er.join(F.broadcast(sizes), "entity_id").select(
        "name",
        "entity_id",
        (F.col("name") == F.col("entity_id")).cast("int").alias("is_canonical"),
        F.col("n_variants").cast("bigint").alias("n_variants"),
    )


@query(
    "dedup_corpus_report",
    oracle=_duck_with(
        [
            _duck_pairs_ctes(16, 4, 0.5),
            """basic AS (
      SELECT count(*) AS n_docs,
             count(DISTINCT md5(text)) AS n_unique_texts
      FROM documents
    ), pairstats AS (
      SELECT count(*) AS n_near_pairs FROM pairs
    ), involved AS (
      SELECT count(DISTINCT id) AS n_docs_in_near_pairs FROM (
        SELECT id1 AS id FROM pairs UNION SELECT id2 FROM pairs
      )
    )""",
        ],
        """
    SELECT CAST(b.n_docs AS BIGINT) AS n_docs,
           CAST(b.n_unique_texts AS BIGINT) AS n_unique_texts,
           CAST(b.n_docs - b.n_unique_texts AS BIGINT) AS n_exact_extra,
           round(b.n_unique_texts * 1.0 / b.n_docs, 6) AS exact_unique_rate,
           CAST(p.n_near_pairs AS BIGINT) AS n_near_pairs,
           CAST(i.n_docs_in_near_pairs AS BIGINT) AS n_docs_in_near_pairs
    FROM basic b CROSS JOIN pairstats p CROSS JOIN involved i
    """,
    ),
)
def dedup_corpus_report_q(spark, sf_dir):
    """One-row dedup health report: corpus size, exact-unique count and
    rate, MinHash-LSH near-dup pair count and the number of documents
    involved — the summary a pipeline owner reads before deciding
    whether a full dedup pass is worth the compute.

    Plan: exact stats are one two-aggregate scan on hashed content; the
    near-dup leg is the standard banded pipeline; all three single-row
    legs cross-join at the end.  At 100 TB the report costs one corpus
    scan plus the (sub-quadratic) LSH candidate generation — this is
    the cheap census you run on a SAMPLE first (identical shape)."""
    docs = load_table(spark, sf_dir, "documents")
    basic = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_unique_texts"),
    )
    pairs = minhash_candidate_pairs(docs, "doc_id", "text", 16, 4, 4, 0.5)
    pairs = pin(pairs)  # two consumers below
    pairstats = pairs.agg(F.count(F.lit(1)).alias("n_near_pairs"))
    involved = (
        pairs.select(F.col("id1").alias("id"))
        .union(pairs.select("id2"))
        .distinct()
        .agg(F.count(F.lit(1)).alias("n_docs_in_near_pairs"))
    )
    return (
        basic.crossJoin(F.broadcast(pairstats))
        .crossJoin(F.broadcast(involved))
        .select(
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_unique_texts").cast("bigint").alias("n_unique_texts"),
            (F.col("n_docs") - F.col("n_unique_texts")).cast("bigint").alias(
                "n_exact_extra"
            ),
            F.round(F.col("n_unique_texts") / F.col("n_docs"), 6).alias(
                "exact_unique_rate"
            ),
            F.col("n_near_pairs").cast("bigint").alias("n_near_pairs"),
            F.col("n_docs_in_near_pairs").cast("bigint").alias(
                "n_docs_in_near_pairs"
            ),
        )
    )
