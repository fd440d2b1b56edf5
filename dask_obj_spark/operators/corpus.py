"""Training-corpus pipeline operators: the steps between "raw documents"
and "training batches" that a 100 TB LLM data pipeline runs after the
per-doc filters in operators/text.py and the pair generation in
operators/dedup.py.

Absent in the reference (its only imports are dask/toolz/operator —
`/root/reference/src/dask_obj/core.py:3-10`); these are the Tier-E
"training-data pipeline" categories the brief requires as first-class.

- **connected components** (`connected_components`): MinHash-LSH gives
  candidate *pairs*; choosing what to keep needs *clusters*.
  Large-star/small-star edge rewriting (Kiveris et al., "Connected
  Components in MapReduce and Beyond", SoCC'14): fixpoint = per-component
  min doc_id, reached in O(log n) rounds even on long-chain graphs
  (min-label propagation would need O(diameter)). Each star phase is one
  algebraic groupBy(min) + one equi-join keyed on the vertex. Lineage is
  cut every round with localCheckpoint (a plan that doubles per iteration
  would stall the optimizer long before the cluster was the problem).

- **sequence packing** (`pack_bins`): group documents into contiguous
  token-budget bins (the "sequence packing" step that turns documents
  into fixed-budget training rows). Deterministic contiguous packing:
  within each stream (source), order by doc_id, bin = exclusive-prefix
  token count // budget. One window per stream partition — no global
  sort, so the shuffle is per-source and the operator scales with the
  number of streams, not corpus size.

- **contamination check** (`contamination_hits`): n-gram overlap of
  every train doc against the eval set's shingle inventory (the
  train/test decontamination step). The eval side is small by
  construction → broadcast hash join; train shingles never shuffle.

- **int8 quantization** (`quantize_embeddings_int8`): per-vector absmax
  scalar quantization of float embeddings (the storage/serving format
  for ANN at scale: 4× smaller, SIMD-dot-friendly). Explode → window
  absmax → top-level arithmetic: everything whole-stage codegen, no
  interpreted higher-order functions in the hot path (PLANS.md trap).

- **weighted sampling** (`weighted_sample`): keep each doc with
  probability = its quality score, deterministically — keep iff
  porthash(doc_id) % 1e6 < floor(quality * 1e6). Reproducible across
  runs/engines (integer compare, no RNG state), trivially pushdown-able,
  and re-weightable by swapping the score column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dask_obj_spark.functions.hashing import (
    duck_porthash,
    duck_word_ngrams,
    duck_word_shingles,
    porthash,
    word_ngrams,
    word_shingles,
)
from dask_obj_spark.functions.vec import DUCK, cosine_sql, fixed_dot, fixed_norm
from dask_obj_spark.queries import query
from dask_obj_spark.sources import load_table

# -- connected components -----------------------------------------------------


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    _rounds_out: list | None = None,
) -> DataFrame:
    """Connected components via large-star/small-star alternation
    (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond") — converges in O(log n) rounds even on long-chain graphs,
    where plain min-label propagation needs O(diameter) rounds.

    Returns (id, cluster_id) for every vertex appearing in ``edges``;
    cluster_id is the component's minimum vertex id.

    Per round (one large-star + one small-star):
      * large-star: every node rewires its LARGER neighbors to the
        minimum of its closed neighborhood;
      * small-star: every node rewires its smaller-or-equal neighbors
        (edges oriented big→small) to their minimum.
    Both are one algebraic groupBy(min) + one equi-join keyed on the
    node — partial-aggregated, skew-tolerant (a hot node's neighbor list
    is never materialized in one task).  The fixpoint is a forest of
    stars rooted at each component min.  Convergence is detected by an
    edge-set signature (count + bit_xor of xxhash64 — order-free and
    overflow-free under ANSI), a map-side-combined
    aggregate, not a distributed set-difference; per-round
    localCheckpoint cuts the growing lineage (measured necessity, see
    PLANS.md).
    """
    u, v = F.col("u"), F.col("v")
    # checkpoint the RAW edge list FIRST: both the vertex set and the
    # working edge set derive from it, and without the cut the upstream
    # plan (e.g. the full MinHash pair generation) would be re-executed
    # once per consumer (measured: 2× the pair cost before any round ran)
    raw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).localCheckpoint(
        eager=True
    )
    # vertex set from the RAW edges: a vertex appearing only in a
    # self-loop is still a (singleton) component
    verts = (
        raw.select(u.alias("id"))
        .union(raw.select(v.alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e = raw.filter(u != v).distinct().localCheckpoint(eager=True)

    def signature(df: DataFrame):
        # bit_xor, not sum: order-insensitive over the (distinct) edge set
        # and cannot overflow under ANSI arithmetic
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(F.least(u, v), F.greatest(u, v))).alias("h"),
        ).first()
        return (row["n"], row["h"])

    sig = signature(e)
    rounds = 0
    for _ in range(max_iter):
        # -- large-star: nbrs is the symmetric view; m = min(Γ(u) ∪ {u})
        nbrs = e.union(e.select(v.alias("u"), u.alias("v")))
        mins = (
            nbrs.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least(F.col("mv"), u).alias("m"))
        )
        large = (
            nbrs.join(mins, "u")
            .filter(v > u)
            .select(v.alias("u"), F.col("m").alias("v"))
            .filter(u != v)
            .distinct()
        )
        # -- small-star: orient big→small, rewire to the per-node min
        directed = large.select(
            F.greatest(u, v).alias("u"), F.least(u, v).alias("v")
        ).distinct()
        smins = directed.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            directed.join(smins, "u")
            .select(v.alias("u"), F.col("m").alias("v"))
            .union(smins.select(F.col("u"), F.col("m").alias("v")))
            .filter(u != v)
            .distinct()
        )
        e = small.localCheckpoint(eager=True)
        rounds += 1
        new_sig = signature(e)
        if new_sig == sig:
            break
        sig = new_sig
    if _rounds_out is not None:
        _rounds_out.append(rounds)
    # fixpoint edges are child→root stars; roots (and isolated inputs) label
    # themselves.  The groupBy(min) is a no-op once converged but keeps the
    # one-row-per-vertex contract if max_iter cut the loop short.
    star = e.select(F.greatest(u, v).alias("child"), F.least(u, v).alias("root"))
    return (
        verts.join(star, verts["id"] == star["child"], "left")
        .select("id", F.coalesce(F.col("root"), F.col("id")).alias("cluster_id"))
        .groupBy("id")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 10,
    damping: float = 0.85,
    round_to: int | None = 6,
) -> DataFrame:
    """PageRank over an undirected edge list (edges walked both ways) —
    the second iterative-algorithm template next to connected_components,
    and a corpus tool in its own right: on a document-similarity graph,
    high-rank nodes are the central/representative documents of each
    near-dup neighbourhood (useful for canonical-doc selection beyond
    plain min-id keepers).

    Per round: contributions = edges ⋈ ranks ⋈ out-degrees (one shuffle
    keyed on vertex), then groupBy(dst).sum — partial-aggregated. In a
    symmetrized graph every vertex has out-degree ≥ 1, so there is no
    dangling-mass correction term. Lineage cut per round via
    localCheckpoint, same as connected_components."""
    # cut lineage BEFORE symmetrizing: the union references the edge
    # plan twice, so an expensive upstream (MinHash pairs) would run 2×
    ed = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).localCheckpoint(
        eager=True
    )
    sym = ed.union(
        ed.select(F.col("d").alias("s"), F.col("s").alias("d"))
    ).distinct().localCheckpoint(eager=True)
    verts = sym.select(F.col("s").alias("id")).distinct().localCheckpoint(eager=True)
    n = verts.count()
    outdeg = sym.groupBy("s").agg(F.count(F.lit(1)).alias("outdeg"))
    ranks = verts.withColumn("rank", F.lit(1.0 / n))
    base = F.lit((1.0 - damping) / n)
    for _ in range(n_iter):
        contrib = (
            sym.join(ranks, sym["s"] == ranks["id"])
            .join(outdeg, "s")
            .select(F.col("d"), (F.col("rank") / F.col("outdeg")).alias("c"))
        )
        sums = contrib.groupBy("d").agg(F.sum("c").alias("in_sum"))
        ranks = (
            verts.join(sums, verts["id"] == sums["d"], "left")
            .select(
                "id",
                (base + F.lit(damping) * F.coalesce(F.col("in_sum"), F.lit(0.0))).alias(
                    "rank"
                ),
            )
            .localCheckpoint(eager=True)
        )
    if round_to is None:
        return ranks.select("id", "rank")
    return ranks.select("id", F.round("rank", round_to).alias("rank"))


def dedup_cluster_assignment(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Every doc → its near-dup cluster id (singletons are their own
    cluster); keeper = the min-id member."""
    comp = connected_components(pairs, "id1", "id2")
    joined = docs.select(id_col).join(
        comp, docs[id_col] == comp["id"], "left"
    )
    cluster = F.coalesce(F.col("cluster_id"), F.col(id_col))
    return joined.select(
        F.col(id_col),
        cluster.alias("cluster_id"),
        F.when(cluster == F.col(id_col), F.lit(1)).otherwise(F.lit(0)).alias(
            "is_keeper"
        ),
    )


# -- sequence packing ---------------------------------------------------------


def pack_bins(
    df: DataFrame,
    id_col: str,
    text_col: str,
    stream_col: str,
    budget: int,
) -> DataFrame:
    """Contiguous token-budget packing: within each stream (ordered by
    id), bin = exclusive-prefix token count // budget.  All integer
    arithmetic — bit-exact on any engine."""
    n_tok = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    w = (
        Window.partitionBy(stream_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_cum = df.select(
        F.col(id_col),
        F.col(stream_col),
        n_tok.alias("n_tokens"),
    ).withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return with_cum.withColumn(
        "bin_id",
        F.floor((F.col("cum_tokens") - F.col("n_tokens")) / F.lit(budget)).cast(
            "bigint"
        ),
    )


def pack_payload(
    df: DataFrame,
    id_col: str,
    text_col: str,
    stream_col: str,
    budget: int,
    sep: str = "\n",
) -> DataFrame:
    """Materialize the packed training rows: concatenate each bin's
    documents (in id order) into one payload string + integer stats.

    One groupBy on (stream, bin) after the packing window; the in-group
    ordering is imposed by `array_sort` over (id, text) structs, so the
    result is deterministic regardless of partitioning/arrival order
    (never rely on collect_list order)."""
    n_tok = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    w = (
        Window.partitionBy(stream_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = df.select(
        F.col(id_col), F.col(stream_col), F.col(text_col), n_tok.alias("n_tokens")
    ).withColumn(
        "bin_id",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.lit(budget)
        ).cast("bigint"),
    )
    ordered_texts = F.transform(
        F.array_sort(F.collect_list(F.struct(F.col(id_col), F.col(text_col)))),
        lambda s: s[text_col],
    )
    return binned.groupBy(stream_col, "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
        F.concat_ws(sep, ordered_texts).alias("payload"),
    )


# -- corpus mixing ------------------------------------------------------------


def mix_rebalance(
    df: DataFrame,
    id_col: str,
    key_col: str,
    weights: dict[str, float],
    default: float = 1.0,
) -> DataFrame:
    """Deterministically downsample per group to hit a target mixture:
    keep a row iff porthash(id) % 1e6 < floor(weight[key] * 1e6).

    The weight table rides in the plan as a CASE chain (at 100 TB: a
    broadcast join against a weights dim — same shape, no shuffle on the
    fact side either way)."""
    cutoff = None
    for k, wgt in sorted(weights.items()):
        cond = F.col(key_col) == k
        cutoff = (
            F.when(cond, F.lit(wgt))
            if cutoff is None
            else cutoff.when(cond, F.lit(wgt))
        )
    cutoff = (cutoff.otherwise(F.lit(default)) if cutoff is not None else F.lit(default))
    h = porthash(F.col(id_col).cast("string"), "mix") % F.lit(1000000)
    return df.filter(h < F.floor(cutoff * F.lit(1000000.0)).cast("bigint"))


def hash_split(
    df: DataFrame, id_col: str, fractions: dict[str, float]
) -> DataFrame:
    """Deterministic train/val/test assignment: the hash of the id picks
    the split via cumulative fraction cutoffs. Stable under reshuffles,
    retries, and incremental reruns (a doc never migrates between
    splits when new data arrives — the property random splits lack)."""
    h = porthash(F.col(id_col).cast("string"), "split") % F.lit(1000000)
    expr = None
    acc = 0.0
    items = list(fractions.items())
    for name, frac in items[:-1]:
        acc += frac
        cutoff = F.lit(int(acc * 1000000))
        expr = (
            F.when(h < cutoff, F.lit(name))
            if expr is None
            else expr.when(h < cutoff, F.lit(name))
        )
    last = items[-1][0]
    split = expr.otherwise(F.lit(last)) if expr is not None else F.lit(last)
    return df.withColumn("split", split)


# -- n-gram vocabulary --------------------------------------------------------


def ngram_vocab(
    df: DataFrame, text_col: str, n: int, min_count: int, k: int
) -> DataFrame:
    """Top-k corpus n-grams by total frequency (BPE/phrase-vocab prep).

    Explode collapses straight into a partial-aggregated groupBy, so the
    shuffle carries (ngram, partial_count) — never raw token streams.
    The global rank window runs AFTER the top-k limit (≤ k rows on one
    partition by construction, not a global sort of the vocab)."""
    counts = (
        df.select(F.explode(word_ngrams(text_col, n)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
    )
    top = counts.orderBy(F.desc("n"), F.asc("ngram")).limit(k)
    rank_w = Window.orderBy(F.desc("n"), F.asc("ngram"))
    return top.withColumn("rank", F.row_number().over(rank_w))


# -- contamination check ------------------------------------------------------


def doc_distinct_shingles(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> DataFrame:
    """Per-doc DISTINCT word ``shingle_n``-grams as (doc_id, sh) rows —
    the one-exchange explode pattern factored out of
    `contamination_hits` (expressions unchanged, so every downstream
    oracle hash is too) for reuse by the streaming contamination
    guard: posexplode words, explicit COUNT repartition on doc_id so
    AQE cannot coalesce the compute-bound stage to one task, concat_ws
    over window leads (codegen string ops, no interpreted slicing)."""
    ncores = df.sparkSession.sparkContext.defaultParallelism
    words = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("pos", "w"),
    ).repartition(ncores, F.col("doc_id"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    grams = [F.col("w")] + [F.lead("w", i).over(w) for i in range(1, shingle_n)]
    return (
        words.select(
            "doc_id",
            F.concat_ws(" ", *grams).alias("sh"),
            F.lead("w", shingle_n - 1).over(w).alias("tail"),
        )
        .filter(F.col("tail").isNotNull() | (F.col("pos") == 0))
        .select("doc_id", "sh")
        .distinct()  # per-doc distinct shingles (word_shingles parity)
    )


def contamination_hits(
    df: DataFrame,
    id_col: str,
    text_col: str,
    eval_mod: int = 20,
    shingle_n: int = 8,
) -> DataFrame:
    """Per train doc: how many of its distinct ``shingle_n``-gram
    shingles also occur anywhere in the eval split (doc_id % eval_mod
    == 0).  The eval shingle inventory is broadcast — at 100 TB the eval
    set is fixed and tiny relative to train, so the train side streams
    through a broadcast hash join with zero shuffle.

    Shingle construction is the one-exchange explode pattern (see
    PLANS.md and .claude/skills/verify/SKILL.md): posexplode the words,
    explicit repartition on doc_id (a COUNT, so AQE cannot coalesce the
    compute-bound stage to one task), then concat_ws over window leads —
    whole-stage-codegen string ops instead of an interpreted O(words×n)
    higher-order-function slice loop (measured ~2× on this stage)."""
    sh = doc_distinct_shingles(df, id_col, text_col, shingle_n)
    eval_sh = (
        sh.filter(F.col("doc_id") % eval_mod == 0).select("sh").distinct()
    )
    return (
        sh.filter(F.col("doc_id") % eval_mod != 0)
        .join(F.broadcast(eval_sh), "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )


# -- int8 embedding quantization ----------------------------------------------


def quantize_embeddings_int8(
    df: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Per-vector absmax int8 quantization, summarized as exact integer
    stats (q_min/q_max/q_sum) + the float scale.

    Explode → window absmax over vec_id → `floor(v/(amax/127) + 0.5)`
    as top-level column arithmetic (floor-of-shifted = round-half-up,
    identical on every engine; `F.round` half-up vs banker's differs).
    Zero vectors (amax = 0) are excluded rather than divided by."""
    base = df.select(
        F.col(id_col).alias("vec_id"),
        F.explode(F.col(vec_col).cast("array<double>")).alias("v"),
    )
    wv = Window.partitionBy("vec_id")
    with_amax = base.withColumn("amax", F.max(F.abs(F.col("v"))).over(wv)).filter(
        F.col("amax") > 0
    )
    q = with_amax.withColumn(
        "qv",
        F.floor(F.col("v") / (F.col("amax") / F.lit(127.0)) + F.lit(0.5)).cast(
            "bigint"
        ),
    )
    return q.groupBy("vec_id").agg(
        F.round(F.max("amax") / F.lit(127.0), 6).alias("scale"),
        F.min("qv").alias("q_min"),
        F.max("qv").alias("q_max"),
        F.sum("qv").alias("q_sum"),
    )


# -- deterministic weighted sampling ------------------------------------------


def weighted_sample(scored: DataFrame, id_col: str, score_col: str) -> DataFrame:
    """Keep each row iff porthash(id) % 1e6 < floor(score * 1e6) — i.e.
    with probability ≈ score, but fully deterministic (no RNG, no
    partition-order dependence; survives repartition/retry)."""
    h = porthash(F.col(id_col).cast("string"), "wsamp") % F.lit(1000000)
    cutoff = F.floor(F.col(score_col) * F.lit(1000000.0)).cast("bigint")
    return scored.filter(h < cutoff)


# ============================== queries ======================================


def _clusters_ctes() -> str:
    """WITH RECURSIVE chain through `comp` (id, cluster_id) — shared by
    the cluster-assignment oracle and the pack-export capstone."""
    from dask_obj_spark.operators.dedup import _duck_pairs_sql

    # RECURSIVE qualifies the whole CTE list; only `reach` recurses.
    return (
        _duck_pairs_sql(16, 4, 0.5).replace("WITH ", "WITH RECURSIVE ", 1)
        + """
    , edges AS (
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
    )


def _clusters_oracle() -> str:
    return (
        _clusters_ctes()
        + """
    SELECT d.doc_id,
           coalesce(c.cluster_id, d.doc_id) AS cluster_id,
           CASE WHEN coalesce(c.cluster_id, d.doc_id) = d.doc_id
                THEN 1 ELSE 0 END AS is_keeper
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
    """
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
    oracle="""
    WITH t AS (
      SELECT doc_id, source,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens
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
    oracle=_clusters_ctes()
    + """
    , keepers AS (
      SELECT d.doc_id, d.source, d.text
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
      WHERE coalesce(c.cluster_id, d.doc_id) = d.doc_id
    ), kt AS (
      SELECT doc_id, source, text,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens
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
    )
    SELECT source, bin_id, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
           string_agg(text, chr(10) ORDER BY doc_id) AS payload
    FROM kb GROUP BY source, bin_id
    """,
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
    oracle="""
    WITH t AS (
      SELECT doc_id, source, text,
             len(string_split_regex(trim(text), '\\s+')) AS n_tokens
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
    from dask_obj_spark.operators.text import duck_quality_select

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


# -- per-facet document cap (domain balancing) --------------------------------


def cap_per_facet(
    df: DataFrame, id_col: str, facet_col: str, cap: int, seed: str = "cap"
) -> DataFrame:
    """Keep at most ``cap`` documents per facet value (the "max N pages
    per domain" balancing step of web-corpus pipelines).  Selection is a
    DETERMINISTIC keyed hash order of the id — no RNG state, so the same
    rows survive across retries, reshuffles, and re-runs — with the id
    itself as the tie-break.  ``WindowGroupLimit`` prunes each facet to
    cap rows map-side before the single exchange on the facet key; no
    facet's full row set is ever sorted globally."""
    h = porthash(F.col(id_col).cast("string"), seed)
    w = Window.partitionBy(facet_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= cap)
        .drop("__rn__")
    )


@query(
    "corpus_cap_per_source",
    oracle=f"""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY {duck_porthash("CAST(doc_id AS VARCHAR)", "cap")}, doc_id
             ) AS rn
      FROM documents
    ) WHERE rn <= 10
    """,
)
def corpus_cap_per_source_q(spark, sf_dir):
    """Domain balancing: at most 10 docs per source, hash-deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    return cap_per_facet(docs, "doc_id", "source", 10).select("doc_id", "source")


def _keep_best_oracle() -> str:
    from dask_obj_spark.operators.text import duck_quality_select

    return (
        _clusters_ctes()
        + f"""
    , q AS (
      SELECT doc_id, quality FROM ({duck_quality_select()})
    ), lab AS (
      SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
    ), ranked AS (
      SELECT l.doc_id, l.cluster_id, q.quality,
             row_number() OVER (PARTITION BY l.cluster_id
                                ORDER BY q.quality DESC, l.doc_id) AS rn
      FROM lab l JOIN q ON l.doc_id = q.doc_id
    )
    SELECT doc_id, cluster_id, quality FROM ranked WHERE rn = 1
    """
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


# -- context-window chunking --------------------------------------------------


def chunk_windows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_size: int = 32,
    stride: int = 24,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    context-length preparation step every LLM training pipeline runs
    before packing (chunk_size tokens per example, stride < chunk_size
    gives chunk_size-stride tokens of overlap).

    Pure column algebra, no Python boundary: tokens via `split`, chunk
    starts via `F.sequence(0, n-1, stride)`, one `posexplode` (the only
    row-expanding op), chunk payload via `F.slice` + `array_join`.  The
    explode fan-out is bounded by ceil(n/stride) per doc; there is no
    shuffle at all — the whole operator is a narrow map over the scan,
    so at 100 TB it chunks at full scan bandwidth and composes with the
    downstream `pack_bins` shuffle unchanged.  Absent in the reference
    (no string ops of its own: /root/reference/src/dask_obj/core.py:3-10).

    ``carry_cols`` pass through unchanged (repeated per chunk) so
    downstream stream-keyed packing needs no join back to the source
    table."""
    carry = list(carry_cols or [])
    toks = F.col("toks")
    starts = F.sequence(F.lit(0), F.greatest(F.size(toks) - 1, F.lit(0)), F.lit(stride))
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            *carry,
            F.split(F.col(text_col), " ").alias("toks"),
        )
        .select(
            "doc_id",
            *carry,
            "toks",
            F.posexplode(starts).alias("chunk_idx", "start"),
        )
        .select(
            "doc_id",
            *carry,
            "chunk_idx",
            F.slice(F.col("toks"), F.col("start") + 1, chunk_size).alias("chunk"),
        )
        .select(
            "doc_id",
            *carry,
            "chunk_idx",
            F.size("chunk").alias("n_tokens"),
            F.array_join("chunk", " ").alias("chunk_text"),
        )
    )


def _chunk_ctes(
    chunk_size: int, stride: int, src: str = "documents", carry: str = ""
) -> str:
    """toks → starts → chunks CTE chain replaying `chunk_windows` over
    ``src`` (a table or prior CTE), carrying ``carry`` columns (e.g.
    ", source") through — shared by the chunking oracle and the capstone
    pipeline oracle so the replay logic exists exactly once.  Emitted
    WITHOUT a leading WITH so it composes into larger chains."""
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
    return (
        "\n    WITH "
        + _chunk_ctes(chunk_size, stride)
        + """
    SELECT doc_id, chunk_idx, len(chunk) AS n_tokens,
           array_to_string(chunk, ' ') AS chunk_text
    FROM chunks
    """
    )


@query("corpus_chunk_windows", oracle=_chunk_windows_oracle(32, 24))
def corpus_chunk_windows_q(spark, sf_dir):
    """Overlapping 32-token chunks with stride 24 over the documents
    corpus — shuffle-free narrow plan (split/sequence/posexplode/slice)."""
    docs = load_table(spark, sf_dir, "documents")
    return chunk_windows(docs, "doc_id", "text", chunk_size=32, stride=24)


# -- pipeline evaluation queries ----------------------------------------------


def _pair_hist_oracle() -> str:
    from dask_obj_spark.operators.dedup import _duck_pairs_sql

    return (
        _duck_pairs_sql(16, 4, 0.0)
        + """
    SELECT floor(est_jaccard * 10) / 10 AS bucket,
           count(*) AS n_pairs
    FROM pairs
    GROUP BY floor(est_jaccard * 10) / 10
    """
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
    (`_semantic_cells_ctes` from operators/dedup.py, `_chunk_ctes`
    above) — changing an operator's replay logic changes the capstone
    replay with it."""
    from dask_obj_spark.operators.dedup import _semantic_cells_ctes
    from dask_obj_spark.operators.similarity import DIM

    return (
        _semantic_cells_ctes(_CAPSTONE_TAU, _CAPSTONE_CELL_MOD, DIM)
        + ", kept AS ("
        + """
      SELECT d.doc_id, d.source, d.text
      FROM documents d
      JOIN cells c ON d.doc_id = c.vid
      LEFT JOIN dropped dr ON c.vid = dr.vid
      WHERE dr.vid IS NULL
    ), """
        + _chunk_ctes(_CAPSTONE_CHUNK, _CAPSTONE_STRIDE, src="kept", carry=", source")
        + f""", cum AS (
      SELECT doc_id, source, chunk_idx, len(chunk) AS n_tokens,
             sum(len(chunk)) OVER (PARTITION BY source ORDER BY doc_id, chunk_idx
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS cum_tokens
      FROM chunks
    )
    SELECT doc_id, chunk_idx, source, n_tokens,
           CAST(floor((cum_tokens - n_tokens) / {_CAPSTONE_BUDGET}) AS BIGINT)
             AS bin_id
    FROM cum
    """
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


# -- contrastive negative sampling --------------------------------------------


def contrastive_negatives(
    df: DataFrame, id_col: str, k: int = 2, buckets: int = 8
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    document gets `k` pseudo-random partner documents, stable under
    reshuffles, retries, and re-runs (hash-derived, no RNG state — the
    same idempotence contract as `hash_split`).

    Scale shape: a GLOBAL rank would be a global sort, so the ring is
    partitioned instead — docs land in `buckets` hash buckets, are
    ranked bucket-locally (window sort over ~N/buckets rows per
    reducer), and negative j for a doc is the doc `j` positions ahead
    in its bucket's ring (wrap-around via modulo).  One window + one
    self-join per bucket, both keyed on (bucket, rank) — co-partitioned,
    no broadcast needed, and `buckets` scales with the cluster."""
    h = porthash(F.col(id_col).cast("string"), "negring")
    base = df.select(F.col(id_col).alias("doc_id"), (h % buckets).alias("bucket"), h.alias("h"))
    w = Window.partitionBy("bucket").orderBy("h", "doc_id")
    ranked = base.withColumn("rank", F.row_number().over(w)).withColumn(
        "bucket_n", F.count(F.lit(1)).over(Window.partitionBy("bucket"))
    )
    offsets = ranked.select(
        "doc_id",
        "bucket",
        "bucket_n",
        F.explode(F.array(*[F.lit(j) for j in range(1, k + 1)])).alias("j"),
        F.col("rank").alias("rank_a"),
    ).withColumn("neg_rank", (F.col("rank_a") - 1 + F.col("j")) % F.col("bucket_n") + 1)
    partners = ranked.select(
        F.col("bucket").alias("bucket_b"),
        F.col("rank").alias("rank_b"),
        F.col("doc_id").alias("neg_doc_id"),
    )
    return (
        offsets.join(
            partners,
            (F.col("bucket") == F.col("bucket_b"))
            & (F.col("neg_rank") == F.col("rank_b")),
        )
        .filter(F.col("neg_doc_id") != F.col("doc_id"))
        .select("doc_id", "j", "neg_doc_id")
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


# -- BPE merge learning -------------------------------------------------------


def _bpe_pair_w2(sym: DataFrame) -> DataFrame:
    """Attach w2 = the next symbol within the doc (one doc_id window
    pass).  The per-round symbol pins carry w2 so the pair-count job
    reads the pin directly instead of paying a full window shuffle of
    its own (r16, guide §2.1/§2.4)."""
    w_doc = Window.partitionBy("doc_id").orderBy("i")
    return sym.withColumn("w2", F.lead("s").over(w_doc))


def _bpe_best_pair_rows(sym_w2: DataFrame) -> list:
    """The single most frequent adjacent pair (ties → lexicographic),
    collected — one bounded row: partial aggregation shuffles only the
    distinct pairs and TakeOrdered keeps one."""
    return (
        sym_w2.filter(F.col("w2").isNotNull())
        .groupBy(F.col("s").alias("w1"), "w2")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "w1", "w2")
        .limit(1)
        .collect()
    )


def _bpe_apply_literal(sym_w2: DataFrame, w1: str, w2: str) -> DataFrame:
    """Merge every greedy-left-to-right occurrence of the pair (w1, w2)
    in a (doc_id, i, s, w2) symbol table; returns the new table with w2
    re-derived for the next round.

    Greedy overlap resolution without a sequential scan: positions
    where the pair matches can only CONFLICT when they are consecutive
    (which requires w1 == w2); within each maximal consecutive run of
    matches, greedy BPE merges the 0th, 2nd, 4th... occurrence.  The
    run offset is pure running-window arithmetic over the ONE
    doc_id/i ordering — `i - (last non-match position before i) - 1` —
    so the whole round is a single Exchange (r16; the former
    gaps-and-islands row_number needed a second (doc_id, runkey)
    shuffle, and the best pair arrived via crossJoin(broadcast))."""
    w_doc = Window.partitionBy("doc_id").orderBy("i")
    w_cum = w_doc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    m = ((F.col("s") == F.lit(w1)) & (F.col("w2") == F.lit(w2))).cast("int")
    flagged = sym_w2.withColumn("m", m)
    last_nm = F.max(
        F.when(F.col("m") == 1, F.lit(None)).otherwise(F.col("i"))
    ).over(w_cum)
    first_i = F.min("i").over(w_cum)
    off = F.when(
        F.col("m") == 1, F.col("i") - F.coalesce(last_nm, first_i - 1) - 1
    )
    flagged = flagged.withColumn(
        "merge_at", ((F.col("m") == 1) & (off % 2 == 0)).cast("int")
    )
    kept = (
        flagged.withColumn(
            "prev_m", F.coalesce(F.lag("merge_at").over(w_doc), F.lit(0))
        )
        .filter(F.col("prev_m") == 0)  # position consumed by a merge to its left
        .select(
            "doc_id",
            "i",
            F.when(F.col("merge_at") == 1, F.lit(f"{w1}_{w2}"))
            .otherwise(F.col("s"))
            .alias("s"),
        )
    )
    return kept.select(
        "doc_id",
        F.row_number().over(w_doc).alias("i"),
        "s",
        F.lead("s").over(w_doc).alias("w2"),
    )


def _bpe_apply_round(sym: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One BPE round over a (doc_id, i, s[, w2]) symbol table: find the
    globally most frequent adjacent pair, merge every greedy occurrence,
    return (new_sym, best_pair).  Single-round entry kept for tests;
    the iterative drivers below call the pieces directly."""
    spark = sym.sparkSession
    sym_w2 = sym if "w2" in sym.columns else _bpe_pair_w2(sym)
    best = _bpe_best_pair_rows(sym_w2)
    best_df = spark.createDataFrame(
        [(r["w1"], r["w2"], r["n"]) for r in best],
        "w1 STRING, w2 STRING, n BIGINT",
    )
    if not best:
        return sym_w2.filter(F.lit(False)).drop("w2"), best_df
    new_sym = _bpe_apply_literal(sym_w2, best[0]["w1"], best[0]["w2"]).drop("w2")
    return new_sym, best_df


def bpe_learn_merges(
    df: DataFrame, id_col: str, text_col: str, rounds: int = 3
) -> DataFrame:
    """Iterative BPE vocabulary learning over word symbols: `rounds`
    alternations of corpus-wide pair counting and greedy merge
    application (Sennrich et al. 2016, the tokenizer-training loop).
    Returns the learned merge table (round, w1, w2, n).

    Per round (r16, guide §2.1/§2.4/§5): ONE tiny pair-count job over
    the pinned (doc_id, i, s, w2) symbols (partial agg → distinct pairs
    only → TakeOrdered(1) → bounded 1-row collect, the PCA recipe) and
    ONE single-Exchange merge-apply job pinned with localCheckpoint
    like the other iterative operators (connected_components, kmeans).
    The final merge table is rebuilt from the collected rows, so the
    per-round aggregations are not re-run by the output union, and the
    last round skips its never-consumed symbol update."""
    spark = df.sparkSession
    sym = _bpe_pair_w2(
        df.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(ws_tokens_corpus(text_col)).alias("i", "s"),
        )
    ).localCheckpoint(eager=True)
    rows = []
    for r in range(1, rounds + 1):
        best = _bpe_best_pair_rows(sym)
        if not best:
            break  # no adjacent pairs left: remaining rounds are empty
        rows.append((r, best[0]["w1"], best[0]["w2"], best[0]["n"]))
        if r < rounds:
            sym = _bpe_apply_literal(
                sym, best[0]["w1"], best[0]["w2"]
            ).localCheckpoint(eager=True)
    return spark.createDataFrame(
        rows, "round INT, w1 STRING, w2 STRING, n BIGINT"
    )


def ws_tokens_corpus(c):
    """Whitespace tokens (local copy to avoid a cross-module import in
    the worker closure)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.split(F.trim(col), r"\s+")


def _bpe_oracle(rounds: int) -> str:
    """Generate the EXACT k-round BPE oracle as chained CTE stages —
    the same windows/gaps-and-islands algorithm, unrolled."""
    ctes = [
        """sym0 AS (
      SELECT doc_id,
             generate_subscripts(string_split_regex(trim(text), '\\s+'), 1) AS i,
             unnest(string_split_regex(trim(text), '\\s+')) AS s
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
    unions = "\n    UNION ALL ".join(
        f"SELECT {r} AS round, w1, w2, CAST(n AS BIGINT) AS n FROM best{r}"
        for r in range(1, rounds + 1)
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + unions


def _bpe_compression_oracle(rounds: int) -> str:
    """Same unrolled BPE rounds, but the final SELECT reports per-doc
    compression: token count before vs symbol count after."""
    full = _bpe_oracle(rounds)
    # keep the CTE chain, swap the final UNION of best-pairs for the
    # per-doc before/after counts
    ctes_part = full.split("\n    SELECT 1 AS round")[0]
    return (
        ctes_part
        + f""",
    agg0 AS (SELECT doc_id, count(*) AS n_tokens FROM sym0 GROUP BY doc_id),
    aggk AS (SELECT doc_id, count(*) AS n_syms FROM sym{rounds} GROUP BY doc_id)
    SELECT agg0.doc_id, agg0.n_tokens, aggk.n_syms,
           agg0.n_tokens - aggk.n_syms AS n_merged
    FROM agg0 JOIN aggk ON agg0.doc_id = aggk.doc_id
    """
    )


@query("corpus_bpe_merges", oracle=_bpe_oracle(3))
def corpus_bpe_merges_q(spark, sf_dir):
    """3 rounds of BPE merge learning over the documents corpus, each
    round hash-matched against the unrolled recursive oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return bpe_learn_merges(docs, "doc_id", "text", rounds=3)


# -- triangle counting --------------------------------------------------------


def triangle_counts(edges: DataFrame, a_col: str = "a", b_col: str = "b") -> DataFrame:
    """Per-vertex triangle participation counts over an undirected edge
    list — the clustering-coefficient / community-density primitive (on
    a kNN or near-dup graph, triangle-dense neighborhoods are tight
    clusters; triangle-free neighbors are hub noise).

    Degree-ordered orientation (the MapReduce-classic trick): every
    edge points low-degree → high-degree endpoint (ties by id), wedges
    are enumerated only at each edge's LOW end, and a wedge closes iff
    the oriented edge between its two upper endpoints exists.  Each
    triangle is found exactly once, and per-vertex work is bounded by
    orientation out-degree ≤ O(sqrt(|E|)) — a hub with a million
    neighbors enumerates nothing; its low-degree neighbors do the
    counting.  Three equi-joins, no cross products."""
    a, b = F.col(a_col), F.col(b_col)
    # materialize the canonical edge list ONCE (optimization r15, guide
    # §3.3 plan-truncation note): the downstream wedge/closing joins
    # embed `e` ~7 times (deg 2x, orient 1x, wedges 2x orient, closing
    # 1x), so an unpinned lineage replays the edge construction — for a
    # kNN graph the entire brute scoring, whose r15 unrolled-kernel
    # plans are also expensive to re-ANALYZE per copy per job (measured:
    # b19 wall was ~85% driver plan time before this pin)
    e = (
        edges.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .union(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    with_deg = (
        e.join(deg.select(F.col("v").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("d").alias("db")), "b")
    )
    fwd = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    orient = with_deg.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("w"),
        F.when(fwd, F.col("db")).otherwise(F.col("da")).alias("dw"),
    )
    e1 = orient.select(F.col("u"), F.col("w").alias("y"), F.col("dw").alias("dy"))
    e2 = orient.select(F.col("u"), F.col("w").alias("z"), F.col("dw").alias("dz"))
    wedges = e1.join(e2, "u").filter(
        (F.col("dy") < F.col("dz"))
        | ((F.col("dy") == F.col("dz")) & (F.col("y") < F.col("z")))
    )
    closing = orient.select(F.col("u").alias("y"), F.col("w").alias("z"))
    tri = wedges.join(closing, ["y", "z"]).select("u", "y", "z")
    verts = (
        tri.select(F.col("u").alias("v"))
        .union(tri.select(F.col("y").alias("v")))
        .union(tri.select(F.col("z").alias("v")))
    )
    return verts.groupBy("v").agg(F.count(F.lit(1)).alias("n_tri"))


def bpe_apply_stats(
    df: DataFrame, id_col: str, text_col: str, rounds: int = 3
) -> DataFrame:
    """Run the BPE loop and report per-doc compression — token count
    before vs symbol count after the learned merges are applied (the
    go/no-go metric for a tokenizer change: how many tokens a given
    merge table actually saves on the corpus).

    Same r16 round structure as bpe_learn_merges: one pinned
    (doc_id, i, s, w2) symbol table feeds both the per-round 1-row
    best-pair collects and the single-Exchange merge-applies; the
    before-count reads the same pin."""
    sym = _bpe_pair_w2(
        df.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(ws_tokens_corpus(text_col)).alias("i", "s"),
        )
    ).localCheckpoint(eager=True)
    before = sym.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tokens"))
    for _ in range(rounds):
        best = _bpe_best_pair_rows(sym)
        if not best:
            # no adjacent pairs anywhere: the merge pass produces an
            # empty table (every position had a null w2 ⇒ single-token
            # docs only ⇒ the legacy crossJoin round emptied sym)
            sym = sym.filter(F.lit(False))
            break
        sym = _bpe_apply_literal(
            sym, best[0]["w1"], best[0]["w2"]
        ).localCheckpoint(eager=True)
    after = sym.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_syms"))
    return (
        before.join(after, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            "n_syms",
            (F.col("n_tokens") - F.col("n_syms")).alias("n_merged"),
        )
    )


@query("corpus_bpe_compression", oracle=_bpe_compression_oracle(3))
def corpus_bpe_compression_q(spark, sf_dir):
    """Per-doc compression from applying 3 learned BPE merges."""
    docs = load_table(spark, sf_dir, "documents")
    return bpe_apply_stats(docs, "doc_id", "text", rounds=3)


def sample_k_per_group(
    df: DataFrame, key_col: str, id_col: str, k: int, salt: str = "groupk"
) -> DataFrame:
    """Deterministic k-per-group sampling: rank rows inside each group
    by a hash of their id and keep the first k — a uniform-looking,
    RNG-free subset that is stable under retries, reshuffles, and
    incremental reruns (new rows only displace an old pick if their
    hash ranks earlier — bounded churn, unlike reservoir resampling).
    One window over the group partitioning; no global sort."""
    h = porthash(F.col(id_col).cast("string"), salt)
    w = Window.partitionBy(key_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


@query(
    "corpus_sample_k_per_source",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY {duck_porthash('doc_id::VARCHAR', 'groupk')}, doc_id
             ) AS rk
      FROM documents
    )
    SELECT doc_id, source FROM ranked WHERE rk <= 20
    """,
)
def corpus_sample_k_per_source_q(spark, sf_dir):
    """Exactly-20-docs-per-source deterministic balanced sample."""
    docs = load_table(spark, sf_dir, "documents")
    return sample_k_per_group(docs, "source", "doc_id", 20).select(
        "doc_id", "source"
    )


def source_overlap_matrix(
    df: DataFrame,
    key_col: str,
    text_col: str,
    n: int = 8,
    max_shingle_freq: int | None = 50,
) -> DataFrame:
    """Cross-source contamination matrix: for every (source_a, source_b)
    pair, how many distinct word n-gram shingles they share — the
    provenance question ('which sources copy from which?') behind
    train/eval decontamination.

    Shape: distinct (source, shingle) inventory → self-join on the
    shingle (inverted index — the SAME index ngram_jaccard and
    contamination_hits build) → count per source pair.  The optional
    frequency cap drops shingles present in more than `max_shingle_freq`
    sources' documents — the stop-shingle skew guard, since a
    boilerplate shingle shared by everything contributes O(sources²)
    pairs and no signal."""
    inv = (
        df.select(
            F.col(key_col).alias("src"),
            F.explode(word_shingles(F.col(text_col), n)).alias("sh"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    if max_shingle_freq is not None:
        hot = (
            inv.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("nf"))
            .filter(F.col("nf") > max_shingle_freq)
            .select("sh")
        )
        # hot set grows with the corpus (occurrences/threshold) — no
        # broadcast hint; AQE decides (broadcast at demo scale only)
        inv = inv.join(hot, "sh", "left_anti")
    a = inv.select(F.col("src").alias("src_a"), "sh")
    b = inv.select(F.col("src").alias("src_b"), "sh")
    return (
        a.join(b, "sh")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
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


def hits_scores(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 4,
) -> DataFrame:
    """HITS hubs & authorities over a DIRECTED edge list: authority =
    sum of pointing hubs, hub = sum of pointed-to authorities, each
    side max-normalized per round — the link-analysis companion to
    PageRank (on a bipartite supplier→part graph: hub = supplier
    breadth, authority = part popularity weighted by supplier breadth).

    Max-normalization (not L2) is deliberate: max() is
    order-INDEPENDENT, so the per-round normalizer is bit-identical on
    any engine/partitioning, while an L2 norm would fold a
    partition-order-dependent sum into every score each round.  Per
    round: two edge⋈score joins + two vertex-keyed sums + two 1-row
    max aggregates (broadcast) — the iterative-solver template
    (localCheckpoint per round)."""
    ed = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).distinct()
    ed = ed.localCheckpoint(eager=True)
    hubs = ed.select(F.col("s").alias("id")).distinct().withColumn(
        "h", F.lit(1.0)
    ).localCheckpoint(eager=True)
    auths = None
    for _ in range(n_iter):
        a_raw = (
            ed.join(hubs, ed["s"] == hubs["id"])
            .groupBy("d")
            .agg(F.sum("h").alias("a"))
        )
        a_max = a_raw.agg(F.max("a").alias("m"))
        auths = (
            a_raw.crossJoin(F.broadcast(a_max))
            .select(F.col("d").alias("id"), (F.col("a") / F.col("m")).alias("a"))
            .localCheckpoint(eager=True)
        )
        h_raw = (
            ed.join(auths, ed["d"] == auths["id"])
            .groupBy("s")
            .agg(F.sum("a").alias("h"))
        )
        h_max = h_raw.agg(F.max("h").alias("m"))
        hubs = (
            h_raw.crossJoin(F.broadcast(h_max))
            .select(F.col("s").alias("id"), (F.col("h") / F.col("m")).alias("h"))
            .localCheckpoint(eager=True)
        )
    return hubs.select("id", F.lit("hub").alias("kind"), F.round("h", 6).alias("score")).union(
        auths.select("id", F.lit("authority").alias("kind"), F.round("a", 6).alias("score"))
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


# -- DSIR importance resampling ----------------------------------------------


def dsir_importance_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target,
    buckets: int = 64,
    alpha: float = 1.0,
) -> DataFrame:
    """DSIR-style data selection (Xie et al., "Data Selection for
    Language Models via Importance Resampling", NeurIPS 2023): score
    each RAW document by its importance ratio between a small TARGET
    domain and the raw pool, using hashed-n-gram bag-of-words features.

    Model: unigram+bigram features hash into `buckets` buckets; the
    target and raw corpora each induce an add-alpha-smoothed multinomial
    (p, q) over buckets; a raw doc's log importance weight is
    sum over its grams of ln p(bucket) - ln q(bucket).  High weight =
    "looks like the target domain" = keep for training.

    Engine-portable numerics: per-bucket log-ratios are floor-quantized
    to integer micro-units ONCE (64 values), so the per-doc score is an
    exact integer SUM — order-independent under any shuffle/partitioning,
    bit-identical on any engine (the repo's standing floor-quantize
    rule; an unordered float sum would be partition-order-dependent).

    Scale shape at 100 TB: gram explosion is a narrow flatMap; bucket
    counts are ONE hash aggregate onto `buckets` rows (map-side partial
    combine does the heavy lifting); the ratio table is constant-bounded
    (`buckets` rows — broadcast hint justified per the PLANS.md audit
    rule); scoring is one corpus-keyed groupBy.  Nothing all-pairs, no
    driver loop, no UDF.  Columns: (doc_id, n_grams, logw_x1m).

    Absent in the reference (core.py:3-10 imports only dask/toolz);
    Tier-E training-data-pipeline surface.
    """
    # explicit fan-out (the PLANS.md compute-bound-stage rule): the gram
    # explode runs interpreted HOF slicing per doc, and a small/1-file
    # parquet scan would otherwise pin that whole stage to one core —
    # repartition the narrow doc rows by id before the compute
    ncores = df.sparkSession.sparkContext.defaultParallelism
    base = df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("t"), target.alias("tgt")
    ).repartition(ncores, "doc_id")
    grams = base.select(
        "doc_id",
        "tgt",
        F.explode(
            F.concat(word_ngrams(F.col("t"), 1), word_ngrams(F.col("t"), 2))
        ).alias("g"),
    )
    bg = grams.select(
        "doc_id", "tgt", F.pmod(porthash(F.col("g")), F.lit(buckets)).alias("bucket")
    )
    # the bucket-count table is `buckets` rows — materialize it once so
    # the totals aggregate and the ratio table both read 64 rows instead
    # of re-running the gram explode + aggregate (one fewer corpus scan)
    bc = (
        bg.groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("tgt"), 1).otherwise(0)).alias("ct"),
            F.sum(F.when(~F.col("tgt"), 1).otherwise(0)).alias("cr"),
        )
        .localCheckpoint(eager=True)
    )
    tot = bc.agg(F.sum("ct").alias("tt"), F.sum("cr").alias("rr"))
    ab = float(alpha) * buckets
    ratio = (
        bc.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.floor(
                1000000.0
                * (
                    F.log((F.col("ct") + float(alpha)) / (F.col("tt") + ab))
                    - F.log((F.col("cr") + float(alpha)) / (F.col("rr") + ab))
                )
            )
            .cast("bigint")
            .alias("lr_micro"),
        )
    )
    return (
        bg.filter(~F.col("tgt"))
        .join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("lr_micro").cast("bigint").alias("logw_x1m"),
        )
    )


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


# -- weighted per-group sampling (Efraimidis-Spirakis) ------------------------


def weighted_sample_k_per_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    weight_col: str,
    k: int,
    salt: str = "wsk",
) -> DataFrame:
    """Weighted random sample of k items PER GROUP without replacement —
    Efraimidis & Spirakis (2006): draw u ~ U(0,1) per item and keep the
    k largest u^(1/w) keys, which selects each item with probability
    proportional to its weight.  The per-source counterpart of
    `weighted_sample` (per-doc Bernoulli) and the weighted counterpart
    of `sample_k_per_group` (uniform); the primitive behind
    quality-weighted mixture drawing at a fixed per-source budget.

    Ranking by u^(1/w) equals ranking by ln(u)/w (monotone for
    u in (0,1), w > 0) — the division form avoids pow() and keeps one
    arithmetic op after the log.  u derives from the portable salted
    hash of the id, so the draw is reproducible across engines/runs and
    re-sampleable by changing the salt.  One window per group — a
    single shuffle on the group key, the same plan as any top-k.
    Requires strictly positive weights (ln(u) < 0 flips under w <= 0);
    callers clamp or filter first.
    """
    u = (
        F.pmod(porthash(F.col(id_col).cast("string"), salt), F.lit(1000000)) + 0.5
    ) / 1000000.0
    scored = df.select(
        F.col(group_col),
        F.col(id_col),
        (F.log(u) / F.col(weight_col).cast("double")).alias("skey"),
    )
    w = Window.partitionBy(group_col).orderBy(F.desc("skey"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            group_col,
            id_col,
            F.floor(1000000.0 * F.col("skey")).cast("bigint").alias("skey_x1m"),
            "rank",
        )
    )


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


# -- semantic contamination (embedding-level decontamination) -----------------


def semantic_contamination(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    eval_mod: int = 17,
    eval_rem: int = 3,
    tau_x1m: int = 300000,
    cell_mod: int = 61,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Embedding-level decontamination: flag every TRAIN document whose
    embedding has cosine ≥ τ to ANY eval-set embedding, reporting the
    closest eval match — the semantic completion of the exact 8-gram
    `contamination_check` above (a paraphrased benchmark prompt shares
    no 8-gram but lands next to its source in embedding space).

    Reference has no vector ops (SURVEY.md §2 Tier E) — Tier-E surface.

    100 TB shape: identical to SemDeDup (operators/dedup.py:562) — the
    pairwise surface is bounded by coarse-cell co-membership (an
    equi-join on cell id, never train×eval all-pairs), and at
    production scale the eval side (benchmark prompts, thousands of
    rows) is broadcast while the train side streams through its
    standing cell index.  Here the eval set is the deterministic
    ``vid % eval_mod == eval_rem`` slice and cells are modular
    (``vid % cell_mod == 1`` centroids) so the DuckDB oracle replays
    the exact index; the trained-kmeans production path swaps in
    `kmeans_fit` centroids unchanged.

    τ is taken in integer micro-units and compared on
    ``floor(cos·1e6)`` — every ordering/threshold decision is on
    integers (no round(), no cross-engine tie hazard).

    Returns (vid, eval_vid, cos_x1m): flagged train docs with their
    single closest eval doc (ties by lowest eval id).
    """
    from dask_obj_spark.operators.similarity import DIM

    # r15: width-guarded unrolled kernels (functions/vec.py)
    base = df.select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("v")
    ).withColumn("vn", fixed_norm("v", DIM))
    if centroids is not None:
        # trained constant-k path (kmeans_fit output): the centroid
        # table is bounded by k regardless of corpus size, so the
        # broadcast HINT is safe and wanted
        cents = F.broadcast(
            centroids.select(
                F.col("cid"),
                F.col("cv").cast("array<double>").alias("cv"),
            ).withColumn("cn", fixed_norm("cv", DIM))
        )
    else:
        # modular oracle-replay set: N/cell_mod rows — GROWS with the
        # corpus, so no hard-coded broadcast hint (r7 verdict #4); the
        # planner/AQE decides from actual size stats
        cents = base.filter(F.col("vid") % cell_mod == 1).select(
            F.col("vid").alias("cid"), F.col("v").alias("cv"), F.col("vn").alias("cn")
        )
    aw = Window.partitionBy("vid").orderBy(F.desc("cs"), F.asc("cid"))
    cells = (
        base.join(cents)
        .select(
            "vid",
            "v",
            "vn",
            (fixed_dot("v", "cv", DIM) / (F.col("vn") * F.col("cn"))).alias("cs"),
            "cid",
        )
        .withColumn("rn", F.row_number().over(aw))
        .filter(F.col("rn") == 1)
        .select("vid", "v", "vn", F.col("cid").alias("cell"))
    )
    train = cells.filter(F.col("vid") % eval_mod != eval_rem)
    evals = cells.filter(F.col("vid") % eval_mod == eval_rem).select(
        F.col("cell"),
        F.col("vid").alias("eval_vid"),
        F.col("v").alias("ev"),
        F.col("vn").alias("en"),
    )
    pairs = (
        train.join(evals, "cell")
        .select(
            "vid",
            "eval_vid",
            F.floor(
                (fixed_dot("v", "ev", DIM) / (F.col("vn") * F.col("en")))
                * F.lit(1000000.0)
            )
            .cast("bigint")
            .alias("cos_x1m"),
        )
        .filter(F.col("cos_x1m") >= F.lit(tau_x1m))
    )
    w = Window.partitionBy("vid").orderBy(F.desc("cos_x1m"), F.asc("eval_vid"))
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vid", "eval_vid", "cos_x1m")
    )


def _semantic_contamination_oracle(
    eval_mod: int, eval_rem: int, tau_x1m: int, cell_mod: int, dim: int
) -> str:
    from dask_obj_spark.operators.dedup import _semantic_cells_ctes

    cos = cosine_sql("a.v", "b.v", dim, DUCK)
    return (
        _semantic_cells_ctes(0.35, cell_mod, dim)
        + f""", pairs AS (
      SELECT a.vid AS vid, b.vid AS eval_vid,
             floor(({cos}) * 1000000.0)::BIGINT AS cos_x1m
      FROM cells a JOIN cells b ON a.cell = b.cell
      WHERE a.vid % {eval_mod} <> {eval_rem} AND b.vid % {eval_mod} = {eval_rem}
    )
    SELECT vid, eval_vid, cos_x1m FROM (
      SELECT vid, eval_vid, cos_x1m,
             row_number() OVER (
               PARTITION BY vid ORDER BY cos_x1m DESC, eval_vid ASC
             ) AS rn
      FROM pairs WHERE cos_x1m >= {tau_x1m}
    ) WHERE rn = 1
    """
    )


from dask_obj_spark.operators.similarity import DIM as _EMB_DIM


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


# -- char-level BPE tokenizer: fit on a bounded sample, encode at scale -------


def bpe_char_fit(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_merges: int = 50,
    vocab_cap: int = 5000,
) -> list[tuple[str, str]]:
    """Learn a character-level BPE merge table (Sennrich et al. 2016)
    from the corpus word-frequency profile — the tokenizer-TRAINING
    half of the pipeline, done the way production tokenizers are: the
    model trains on a BOUNDED summary (top ``vocab_cap`` words by
    frequency, one hash aggregate + TakeOrdered), never by streaming
    the corpus through the merge loop.  At 100 TB the driver holds
    ``vocab_cap`` (word, count) rows and the Python loop below — the
    corpus itself is touched exactly once.

    Deterministic end to end: word ranking ties break lexicographically
    and merge-pair ties break (count desc, pair lex asc), so the same
    corpus always yields the same merge table (the encode oracle story
    depends on it).

    Complements `bpe_learn_merges` above (word-symbol merges, fully
    distributed + oracle-replayed): this one is the subword vocabulary
    builder whose output feeds `bpe_char_encode`.
    """
    word_counts = (
        df.select(F.explode(ws_tokens_corpus(text_col)).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("w"))
        .limit(vocab_cap)
        .collect()
    )
    vocab: dict[tuple[str, ...], int] = {
        tuple(r["w"]) + ("</w>",): int(r["n"]) for r in word_counts
    }
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, n in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + n
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        merged = best[0] + best[1]
        nv: dict[tuple[str, ...], int] = {}
        for syms, n in vocab.items():
            out = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == best[0] and syms[i + 1] == best[1]:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nv[tuple(out)] = nv.get(tuple(out), 0) + n
        vocab = nv
    return merges


def _make_bpe_greedy_encode():
    """Factory for the ONE shared greedy char-BPE encode loop that both
    `bpe_char_encode` and `bpe_char_roundtrip` ship in their worker
    closures — so the roundtrip oracle exercises the exact merge code
    the encode query runs, not a re-implementation of it.  It is a
    factory (nested def, `<locals>` qualname) on purpose: cloudpickle
    serializes module-level functions BY REFERENCE into
    `dask_obj_spark.operators.corpus`, which is NOT importable on the
    executors of a vanilla driver session (verify SKILL.md closure
    rule); a nested function pickles BY VALUE, keeping both closures
    self-contained while sharing one definition."""

    def greedy_encode(word: str, ranks: dict) -> list:
        # lowest-rank eligible pair merges first (GPT-2/sentencepiece
        # encode rule); leftmost occurrence wins within a rank
        syms = list(word) + ["</w>"]
        while len(syms) > 1:
            cand = [
                (ranks[(a, b)], i)
                for i, (a, b) in enumerate(zip(syms, syms[1:]))
                if (a, b) in ranks
            ]
            if not cand:
                break
            _, i = min(cand)
            syms[i : i + 2] = [syms[i] + syms[i + 1]]
        return syms

    return greedy_encode


_bpe_greedy_encode = _make_bpe_greedy_encode()


def bpe_char_encode(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Apply a learned char-BPE merge table to every document — the
    tokenizer-APPLICATION half: rank-ordered greedy merging per word
    (lowest-rank eligible pair first, the GPT-2/sentencepiece encode
    rule), shipped as an Arrow-batched mapInPandas closure with the
    merge table captured by value (bounded model state) and a per-task
    word→tokens memo so hot words tokenize once per partition.

    Returns (doc_id, n_words, n_chars, n_bpe_tokens) — the per-doc
    token-budget numbers a packing/mixture stage consumes.  Rows-only
    registration: greedy rank-ordered merging is an iterative
    list-rewrite with no SQL form; unit tests pin the classic examples
    and the concatenation/count invariants instead.
    """
    ranks = {tuple(m): r for r, m in enumerate(merges)}
    greedy_encode = _bpe_greedy_encode  # captured by value in the closure

    def encode_part(batches):
        # worker closure: model state (ranks) and the shared encode
        # helper are captured by value; no mutable module globals
        import pandas as pd

        memo: dict[str, int] = {}

        def n_tokens(word: str) -> int:
            got = memo.get(word)
            if got is not None:
                return got
            n = len(greedy_encode(word, ranks))
            memo[word] = n
            return n

        for pdf in batches:
            words = pdf["text"].fillna("").str.strip().str.split()
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_words": [len(ws) for ws in words],
                    "n_chars": [sum(len(w) for w in ws) for ws in words],
                    "n_bpe_tokens": [
                        sum(n_tokens(w) for w in ws) for ws in words
                    ],
                }
            )

    src = df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    return src.mapInPandas(
        encode_part, "doc_id long, n_words long, n_chars long, n_bpe_tokens long"
    )


@query("corpus_bpe_encode_rowsonly")
def corpus_bpe_encode_rowsonly_q(spark, sf_dir):
    """Char-BPE tokenizer fit (50 merges on the bounded word-frequency
    profile) + encode applied to every document: per-doc word/char/BPE
    token counts.  Rows-only (greedy rank-ordered merging has no SQL
    form); invariants and classic examples pinned in tests."""
    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_char_fit(docs, "doc_id", "text", n_merges=50)
    return bpe_char_encode(docs, "doc_id", "text", merges)


def bpe_char_roundtrip(
    df: DataFrame,
    id_col: str,
    text_col: str,
    merges: list[tuple[str, str]],
) -> DataFrame:
    """Decode-round-trip check for `bpe_char_encode`: re-tokenize every
    document, rebuild each word from its BPE token sequence (strip the
    trailing ``</w>`` marker), and emit the md5 of the rebuilt
    whitespace-normalized text plus an in-closure invariant flag.  A
    correct encode makes the rebuilt text EQUAL the normalized source
    (symbol concatenation is invariant under merging), so the output is
    SQL-expressible from the raw documents table even though the greedy
    encode itself is not — this is the oracle-paired companion the
    rows-only registration of the encode needs (r8 verdict #5).

    ``ok`` folds two invariants the oracle asserts as literal 1: every
    word reconstructs exactly, and n_words ≤ n_bpe_tokens ≤ n_chars +
    n_words (each word is 1..len(word)+1 tokens).  The worker runs the
    SAME `_bpe_greedy_encode` helper the encode query ships (captured
    by value), so a symbol-dropping/duplicating/index bug in the
    shipped merge loop breaks reconstruction → md5/ok mismatch.  What
    this oracle canNOT see: merge-RANK/order bugs — concatenation is
    invariant under any merge application order — those are pinned by
    tests/test_corpus.py::test_bpe_greedy_encode_rank_order on the
    shared helper instead.

    Word splitting happens in Spark SQL with the same
    trim+split-on-\\s+ convention the BPE-merges oracle already
    hash-matches, so the Python closure never re-tokenizes."""
    ranks = {tuple(m): r for r, m in enumerate(merges)}
    greedy_encode = _bpe_greedy_encode  # SAME helper bpe_char_encode ships

    def roundtrip_part(batches):
        # worker closure: model state (ranks) and the shared encode
        # helper are captured by value; no mutable module globals
        import hashlib

        import pandas as pd

        memo: dict[str, list] = {}

        def encode(word: str) -> list:
            got = memo.get(word)
            if got is not None:
                return got
            syms = greedy_encode(word, ranks)
            memo[word] = syms
            return syms

        for pdf in batches:
            out_n, out_md5, out_ok = [], [], []
            for ws in pdf["words"]:
                ws = list(ws)
                rebuilt, n_bpe, n_chars, ok = [], 0, 0, 1
                for w in ws:
                    syms = encode(w)
                    cat = "".join(syms)
                    if not (cat.endswith("</w>") and cat[:-4] == w):
                        ok = 0
                    rebuilt.append(cat[:-4])
                    n_bpe += len(syms)
                    n_chars += len(w)
                if not (len(ws) <= n_bpe <= n_chars + len(ws)):
                    ok = 0
                out_n.append(len(ws))
                out_md5.append(
                    hashlib.md5(" ".join(rebuilt).encode("utf-8")).hexdigest()
                )
                out_ok.append(ok)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_words": out_n,
                    "rebuilt_md5": out_md5,
                    "ok": out_ok,
                }
            )

    src = df.select(
        F.col(id_col).alias("doc_id"),
        F.filter(
            ws_tokens_corpus(F.coalesce(F.col(text_col), F.lit(""))),
            lambda w: w != "",
        ).alias("words"),
    )
    return src.mapInPandas(
        roundtrip_part,
        "doc_id long, n_words long, rebuilt_md5 string, ok long",
    )


@query(
    "corpus_bpe_roundtrip",
    oracle="""
    WITH w AS (
      SELECT doc_id,
             list_filter(
               string_split_regex(trim(coalesce(text, '')), '\\s+'),
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


# -- reproducible global shuffle → shards -------------------------------------


def global_shuffle_shards(
    df: DataFrame,
    id_col: str,
    n_shards: int,
    salt: str = "shuf0",
) -> DataFrame:
    """Deterministic global shuffle + sharding — the last step of every
    training-data pipeline: assign each document a pseudo-random
    permutation key, route it to one of ``n_shards`` shards, and order
    it WITHIN its shard by the key.  Reading shard files in shard order
    then replays the exact global permutation, and re-shuffling is just
    a new ``salt``.

    Reference has no shuffle/shard surface (SURVEY.md §2 Tier E) —
    LLM-pipeline op: training dataloaders need a reproducible global
    order without any single machine ever sorting the corpus.

    Plan (the whole point at 100 TB): permutation key =
    portable hash(id, salt) — a NARROW projection; shard = key mod
    n_shards; within-shard position = one row_number per shard.  That
    is exactly ONE hash exchange on `shard` (the same shuffle the
    writer needs anyway: ``repartition(n_shards, shard)`` →
    ``sortWithinPartitions(key)`` → write) — never a global ORDER BY,
    so no range exchange, no driver-side boundary sampling, and no
    skew: keys are uniform 60-bit hashes, so shards balance to
    ±O(sqrt(n/shards)) regardless of how pathological the input
    layout or id distribution is.

    Returns (shard, pos, id, key) for every row.
    """
    key = porthash(F.col(id_col).cast("string"), salt)
    scored = df.select(
        F.col(id_col),
        key.alias("key"),
        F.pmod(key, F.lit(n_shards)).cast("int").alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("key", id_col)
    return scored.select(
        "shard",
        F.row_number().over(w).alias("pos"),
        F.col(id_col),
        "key",
    )


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


# -- deterministic weighted multi-source interleaving -------------------------


def interleave_sources(
    df: DataFrame,
    source_col: str,
    id_col: str,
    weight_expr: Column,
    prefix: int = 100,
    salt: str = "ilv",
) -> DataFrame:
    """Deterministic weighted interleaving of N source streams — stride
    scheduling, the dataloader-side mixing step that turns per-source
    shards into ONE training order hitting each source in proportion to
    its weight (Pile/UniMax-style mixing at read time, no resampling):
    doc d with within-source rank r from a source of weight w is
    scheduled at virtual time r/w, and the global order is ascending
    virtual time.  A weight-2 source thus appears twice as often as a
    weight-1 source at every prefix of the stream.

    Reference has no mixing surface (SURVEY.md §2 Tier E) — LLM-pipeline
    op alongside `mixture_weights`/`global_shuffle_shards`: mixture
    picks WHAT fraction each source gets, the shuffle orders WITHIN a
    source, interleaving produces the single merged order.

    Plan: within-source rank is one row_number per source (windows
    partitioned by source — the shuffle is per-source, never global);
    virtual time is exact integer micro-units (rank·1e6 DIV w — no
    float division, so cross-engine ties are impossible beyond the
    deterministic (time, source, id) key).  The global order is only
    ever materialized as a bounded PREFIX via top-k
    (TakeOrderedAndProject — at 100 TB a dataloader pulls the stream
    front-to-back; nothing global-sorts the corpus), and the prefix's
    global positions are a row_number over those ``prefix`` rows only.

    Returns (global_pos, source, id, src_rank, sched_x1m) for the
    first ``prefix`` scheduled docs.
    """
    shuf = porthash(F.col(id_col).cast("string"), salt)
    w_rank = Window.partitionBy(source_col).orderBy(shuf.asc(), F.col(id_col))
    scored = df.select(
        F.col(source_col),
        F.col(id_col),
        F.row_number().over(w_rank).alias("src_rank"),
        weight_expr.cast("bigint").alias("w"),
    ).select(
        source_col,
        id_col,
        "src_rank",
        F.expr("CAST(src_rank AS BIGINT) * 1000000 DIV w").alias("sched_x1m"),
    )
    head = scored.orderBy("sched_x1m", source_col, id_col).limit(prefix)
    w_pos = Window.orderBy("sched_x1m", source_col, id_col)
    return head.select(
        F.row_number().over(w_pos).alias("global_pos"),
        source_col,
        F.col(id_col),
        "src_rank",
        "sched_x1m",
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


# -- exact stratified split ---------------------------------------------------


def stratified_split(
    df: DataFrame,
    id_col: str,
    strata_cols: list[str],
    val_ppm: int = 100_000,
    salt: str = "strat",
) -> DataFrame:
    """EXACT stratified holdout: every stratum contributes its
    largest-remainder share of a global validation budget of
    ``floor(N · val_ppm / 1e6)`` rows — the deterministic complement of
    `hash_split` (whose per-stratum counts are only binomially close to
    the target; an eval set that over-draws a rare language by 30%
    skews every per-stratum metric computed on it).

    Reference is a generic bag (SURVEY.md §2 Tier E) — LLM-pipeline
    surface.

    Allocation: per stratum s of size n_s, base quota
    ``n_s·ppm DIV 1e6`` plus one extra for the D strata with the
    largest remainders (D = global target − Σ base; ties by stratum
    key), so Σ quota == global target EXACTLY and every quota is
    within 1 of proportional.  Rows are ranked inside each stratum by
    the portable id hash (then id), so membership is a pure function
    of (id, stratum sizes) — stable across reshuffles and replayable
    by the oracle.

    100 TB shape: the quota table is ONE tiny aggregate (|strata|
    rows — a dimension, not a fact: sources × languages), its
    largest-remainder window runs on that dimension table only, and it
    broadcast-joins back; the corpus-side work is one hash partial-agg
    for the counts plus one per-stratum row_number window — no global
    sort, no driver loop.  Integer arithmetic end to end (ppm scaling,
    DIV/%), so no float tie can crack the allocation cross-engine.

    Returns (id, *strata_cols, split ∈ {'val','train'}).
    """
    sc = [F.col(c) for c in strata_cols]
    base = df.select(
        F.col(id_col).alias("sid"),
        *sc,
        porthash(F.col(id_col).cast("string"), salt).alias("h"),
    )
    cnt = base.groupBy(*strata_cols).agg(F.count(F.lit(1)).alias("n_s"))
    # every global statistic (target, Σ base quotas, remainder rank) is
    # a window over the SAME dimension-sized count frame (|strata| rows
    # — bounded by the source×lang vocabulary, never the corpus), so
    # the corpus feeds exactly ONE aggregate branch: a separate
    # `cnt.agg(...)` totals frame would re-run the count's lineage and
    # cost a third corpus scan (caught in the r8 plan audit)
    rw = Window.orderBy(
        F.desc("rem"), *[F.asc(c) for c in strata_cols]
    )
    quota = (
        cnt.withColumn("base_q", F.expr(f"n_s * {int(val_ppm)} DIV 1000000"))
        .withColumn("rem", F.expr(f"n_s * {int(val_ppm)} % 1000000"))
        .withColumn("t", F.expr(f"SUM(n_s) OVER () * {int(val_ppm)} DIV 1000000"))
        .withColumn("sum_base", F.expr("SUM(base_q) OVER ()"))
        .withColumn(
            "q",
            F.col("base_q")
            + F.when(
                F.row_number().over(rw) <= F.col("t") - F.col("sum_base"), 1
            ).otherwise(0),
        )
        .select(*strata_cols, "q")
    )
    pw = Window.partitionBy(*strata_cols).orderBy(F.asc("h"), F.asc("sid"))
    ranked = base.join(F.broadcast(quota), strata_cols).withColumn(
        "rn", F.row_number().over(pw)
    )
    return ranked.select(
        F.col("sid").alias(id_col),
        *sc,
        F.when(F.col("rn") <= F.col("q"), F.lit("val"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


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


# -- token-budget data selection ----------------------------------------------


def budget_select(
    df: DataFrame,
    id_col: str,
    text_col: str,
    token_budget: int,
    bucket_div: int = 10_000,
    salt: str = "budget",
) -> DataFrame:
    """Select the highest-quality documents whose token counts fill a
    global training budget — "give me the best B tokens", the data-
    selection step between quality scoring and tokenization in every
    budgeted pretraining run.

    Reference is a generic bag (SURVEY.md §2 Tier E) — LLM-pipeline
    surface.

    NOT a global sort: quality is floor-quantized to micro-units and
    histogrammed into ``1e6/bucket_div`` integer buckets (one corpus
    aggregate, dimension-sized result).  A running token total over the
    TINY histogram (highest bucket first) finds how much budget every
    bucket inherits from above; buckets whose ancestors already exhaust
    the budget are dropped BEFORE any per-row work, and the survivors
    take a per-bucket hash-ordered running sum, keeping each row while
    ``cum_above + running ≤ budget``.  Fully-covered buckets satisfy
    that inequality row-for-row, so one window condition handles both
    the interior and the boundary bucket — no union, no second corpus
    pass, no driver loop.  Selection is a pure function of
    (id, corpus histogram): stable across reshuffles and replayable by
    the oracle.  Bucket width is the exactness/granularity knob: the
    only rows the within-bucket hash order (rather than pure quality
    order) can affect live inside ONE bucket's quality band.

    Returns (id, q_x1m, n_tok) for the selected documents.
    """
    from dask_obj_spark.operators.text import quality_scores

    scored = quality_scores(df, id_col, text_col).select(
        F.col(id_col).alias("sid"),
        F.col("n_tokens").cast("bigint").alias("n_tok"),
        F.floor(F.col("quality") * F.lit(1000000.0)).cast("bigint").alias("q_x1m"),
        porthash(F.col(id_col).cast("string"), salt).alias("h"),
    )
    b = scored.withColumn("bkt", F.expr(f"q_x1m DIV {int(bucket_div)}"))
    hist = b.groupBy("bkt").agg(F.sum("n_tok").alias("btoks"))
    cw = (
        Window.orderBy(F.desc("bkt"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cand = (
        hist.withColumn(
            "cum_above",
            F.coalesce(F.sum("btoks").over(cw), F.lit(0)).cast("bigint"),
        )
        .filter(F.col("cum_above") < F.lit(int(token_budget)))
        .select("bkt", "cum_above")
    )
    pw = (
        Window.partitionBy("bkt")
        .orderBy(F.asc("h"), F.asc("sid"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        b.join(F.broadcast(cand), "bkt")
        .withColumn("rs", F.sum("n_tok").over(pw).cast("bigint"))
        .filter(F.col("rs") + F.col("cum_above") <= F.lit(int(token_budget)))
        .select(F.col("sid").alias(id_col), "q_x1m", "n_tok")
    )


def _budget_select_oracle(token_budget: int, bucket_div: int, salt: str) -> str:
    from dask_obj_spark.operators.text import duck_quality_select

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


# -- data-constrained epoch scheduling ----------------------------------------


def epoch_schedule(
    df: DataFrame,
    text_col: str,
    source_col: str,
    budget_mult: int = 3,
    rstar: float = 15.0,
) -> DataFrame:
    """Epoch/repetition allocation under a global token budget — the
    planning step of a data-constrained training run ("Scaling
    Data-Constrained Language Models", Muennighoff et al., NeurIPS
    2023): given per-source unique-token counts and a budget of
    ``budget_mult ×`` the corpus, split the budget by α=0.5
    temperature weights (w_s ∝ √n_s — the standard low-resource
    up-sampling), convert each source's allocation to epochs over its
    unique tokens, and discount repeated epochs by the paper's decay
    ``D' = U + U·R*·(1 − e^(−R/R*))`` with R* ≈ 15 — the effective
    token count a loss-scaling law would credit.  ``regime`` buckets
    each source by the paper's reading: ≤1 epoch unique data,
    1–4 epochs nearly-free repetition, >4 diminishing.

    Cross-engine determinism: √n is an IEEE correctly-rounded
    primitive (bit-identical on Spark and DuckDB, unlike exp/ln
    chains), so the weight table quantizes exactly; the single exp()
    sits behind integer-token flooring with ~1e-12 relative ULP — far
    from any boundary.  Σ over sources is an INTEGER sum of the
    quantized weights (order-free), never a float reduction over an
    unordered group.

    100 TB shape: ONE corpus scan (the per-source token aggregate);
    everything after is windows over the |sources|-row dimension
    frame.  At extreme n_s the ×1e6 weight quantization would
    overflow BIGINT around n_s ≈ 8.5e25 — not reachable in tokens.

    Returns (source, n_tokens, weight_x1m, epochs_x1m, eff_tokens,
    regime)."""
    n_tok = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    per = (
        df.select(F.col(source_col).alias("source"), n_tok.alias("nt"))
        .groupBy("source")
        .agg(F.sum("nt").cast("bigint").alias("n_s"))
    )
    # windows over the dimension frame only (|sources| rows)
    full = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    per = (
        per.withColumn("tot", F.sum("n_s").over(full))
        .withColumn(
            "p",
            F.floor(F.sqrt(F.col("n_s").cast("double")) * F.lit(1000000.0)).cast(
                "bigint"
            ),
        )
        .withColumn("s_w", F.sum("p").over(full))
    )
    b = (F.lit(budget_mult) * F.col("tot")).cast("double")
    alloc = (b * F.col("p").cast("double")) / F.col("s_w").cast("double")
    nd = F.col("n_s").cast("double")
    epochs = alloc / nd
    r = epochs - F.lit(1.0)
    eff = F.when(epochs <= F.lit(1.0), alloc).otherwise(
        nd
        + nd
        * F.lit(rstar)
        * (F.lit(1.0) - F.exp(F.lit(0.0) - r / F.lit(rstar)))
    )
    out = per.select(
        "source",
        F.col("n_s").alias("n_tokens"),
        F.floor(
            (F.col("p").cast("double") / F.col("s_w").cast("double"))
            * F.lit(1000000.0)
        )
        .cast("bigint")
        .alias("weight_x1m"),
        F.floor(epochs * F.lit(1000000.0)).cast("bigint").alias("epochs_x1m"),
        F.floor(eff).cast("bigint").alias("eff_tokens"),
    )
    return out.withColumn(
        "regime",
        F.when(F.col("epochs_x1m") <= 1_000_000, F.lit("unique"))
        .when(F.col("epochs_x1m") <= 4_000_000, F.lit("repeat"))
        .otherwise(F.lit("diminishing")),
    )


def _epoch_schedule_oracle(budget_mult: int, rstar: float) -> str:
    return f"""
    WITH per AS (
      SELECT source,
             sum(len(string_split_regex(trim(text), '\\s+')))::BIGINT AS n_s
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


# -- corpus monitoring: quality drift (PSI) and snapshot diff -----------------


def quality_psi_by_source(
    df: DataFrame, id_col: str, text_col: str, source_col: str
) -> DataFrame:
    """Population-stability-index monitor: for every source, how far its
    quality-decile distribution drifts from the WHOLE corpus's — the
    standard data-ops tripwire ("this crawl snapshot's quality mix
    changed") with the standard reading (PSI < 0.1 stable, > 0.25
    action).

    PSI = Σ_b (p_src,b − p_ref,b) · ln(p_src,b / p_ref,b) over ten
    quality deciles, with epsilon smoothing on the PROPORTIONS
    (p' = (c/n + ε)/(1 + 10ε), ε = 1e-4) so empty deciles stay finite
    AND a source identical to the corpus scores exactly 0 regardless
    of the n_src/n_ref imbalance (add-one count smoothing fails that:
    the differing denominators read 0.71 "action" for an identical
    source on the sf0.01 data).  The decile grid is FIXED (10 buckets), so the
    sum is an explicit left-assoc 10-arm chain over pivoted per-bucket
    terms — never a float SUM over an unordered group (the pivoted-
    partial-sums rule that keeps every float op bit-replayable in SQL).

    100 TB shape: one quality scan → one (source, decile) hash
    aggregate (≤ |sources|·10 rows out), the reference distribution is
    a second ≤10-row aggregate of THAT result (not a second corpus
    scan), and everything after is dimension-sized.

    Returns (source, n_docs, psi_x1m) — PSI in integer micro-units.
    """
    from dask_obj_spark.operators.text import quality_scores

    scored = quality_scores(df, id_col, text_col, keep_cols=[source_col]).select(
        F.col(source_col).alias("src"),
        F.least(
            F.floor(F.col("quality") * F.lit(10.0)).cast("int"), F.lit(9)
        ).alias("bkt"),
    )
    # ONE corpus scan → the (source, decile) summary; everything after
    # is dimension-sized, so pin the summary (it fans out to the grid,
    # the reference distribution, and the source list — without the
    # checkpoint each branch re-runs the corpus aggregate)
    sb = (
        scored.groupBy("src", "bkt")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=True)
    )
    # zero-fill the (source × decile) grid off the aggregate (tiny)
    grid = (
        sb.select("src").distinct()
        .crossJoin(F.broadcast(
            df.sparkSession.range(10).select(F.col("id").cast("int").alias("bkt"))
        ))
        .join(sb, ["src", "bkt"], "left")
        .select("src", "bkt", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    )
    # the reference distribution is zero-filled over ALL 10 deciles
    # (a decile empty corpus-wide must appear with rc=0, else the
    # inner grid×ref join below drops it, the pivoted term goes NULL,
    # and the 10-arm chain — hence every source's PSI — goes NULL);
    # the corpus total rides as a window over the 10-row frame — not
    # a driver collect (which would re-run the aggregate lineage as an
    # extra corpus scan at build time)
    ref = (
        df.sparkSession.range(10)
        .select(F.col("id").cast("int").alias("bkt"))
        .join(sb.groupBy("bkt").agg(F.sum("c").alias("rc_raw")), "bkt", "left")
        .select(
            "bkt", F.coalesce(F.col("rc_raw"), F.lit(0)).cast("bigint").alias("rc")
        )
        .withColumn(
            "n_ref",
            F.sum("rc").over(
                Window.partitionBy().rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
    )
    j = grid.join(F.broadcast(ref), "bkt")
    # smoothed shares (c+1)/(n+10) on both engines, term per decile
    nsrc_w = Window.partitionBy("src")
    j = j.withColumn("n_src", F.sum("c").over(nsrc_w))
    nref = F.col("n_ref").cast("double")
    # epsilon smoothing on PROPORTIONS, not add-one on counts: with
    # count smoothing the source and reference denominators differ
    # (n_src + 10 vs n_ref + 10), so a source IDENTICAL to the corpus
    # scores far above the 0.25 "action" line whenever n_src ≪ n_ref
    # (0.71 on the sf0.01 data) — a false-positive tripwire.  The
    # proportion form p' = (c/n + ε)/(1 + 10ε) is scale-free:
    # identical distributions give bitwise-equal p' on both sides and
    # PSI exactly 0, while empty-bucket terms stay finite.
    ps = (F.col("c").cast("double") / F.col("n_src").cast("double") + F.lit(0.0001)) / F.lit(1.001)
    pr = (F.col("rc").cast("double") / nref + F.lit(0.0001)) / F.lit(1.001)
    term = ((ps - pr) * F.log(ps / pr)).alias("t")
    piv = (
        j.select("src", F.col("n_src"), F.col("bkt"), term)
        .groupBy("src", "n_src")
        .agg(*[F.max(F.when(F.col("bkt") == k, F.col("t"))).alias(f"t{k}") for k in range(10)])
    )
    chain = F.lit(0.0)
    for k in range(10):
        chain = chain + F.col(f"t{k}")
    return piv.select(
        F.col("src").alias("source"),
        F.col("n_src").cast("bigint").alias("n_docs"),
        F.floor(chain * F.lit(1000000.0)).cast("bigint").alias("psi_x1m"),
    )


def _quality_psi_oracle() -> str:
    from dask_obj_spark.operators.text import duck_quality_select

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


def diff_snapshots(
    old: DataFrame, new: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Corpus version diff: full outer join on the id with a content-
    hash comparison — the added/removed/changed report every dataset
    release pipeline prints before shipping a new snapshot (and the
    input to incremental reprocessing: only 'changed' re-embeds).

    One shuffle per side on the id; the hash is computed AT THE SCAN
    (md5 of the text column) so the join carries (id, 32-byte hash),
    never document bodies.  Unchanged rows are dropped pre-output.

    Presence is carried as an explicit per-side flag — NOT inferred
    from hash nullness: ``md5(NULL)`` is NULL, so a hash-null test
    would misreport a NULL-text doc present in both snapshots as
    'added'.  Hashes compare null-safely (``eqNullSafe``), so
    NULL→NULL is unchanged and NULL→text is 'changed'.

    Returns (id, status ∈ {'added','removed','changed'}).
    """
    o = old.select(
        F.col(id_col).alias("did"),
        F.lit(True).alias("in_old"),
        F.md5(F.col(text_col)).alias("oh"),
    )
    n = new.select(
        F.col(id_col).alias("did"),
        F.lit(True).alias("in_new"),
        F.md5(F.col(text_col)).alias("nh"),
    )
    j = o.join(n, "did", "full_outer")
    return (
        j.select(
            "did",
            F.when(F.col("in_old").isNull(), F.lit("added"))
            .when(F.col("in_new").isNull(), F.lit("removed"))
            .when(~F.col("oh").eqNullSafe(F.col("nh")), F.lit("changed"))
            .otherwise(F.lit("unchanged"))
            .alias("status"),
        )
        .filter(F.col("status") != "unchanged")
        .select(F.col("did").alias(id_col), "status")
    )


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


# -- fill-in-the-middle transform (code-model training example prep) ----------


def fim_transform(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Fill-In-the-Middle example generation (Bavarian et al.,
    "Efficient Training of Language Models to Fill in the Middle",
    2022): split each document into (prefix, middle, suffix) at two
    deterministic word-boundary cuts and emit the PSM-format training
    string — the data transform that gives a causal LM infilling
    ability for free.

    Cut points derive from the portable hash of the doc id (two salted
    draws), so the transform is reproducible across runs, engines, and
    partitionings — the property a resumable 100 TB preprocessing job
    needs (re-running a failed shard regenerates identical examples).
    Pure column algebra: split → two hash draws → three slices → one
    concat; no shuffle at all (the plan is scan → project).  Docs with
    fewer than 3 words pass through unsplit (prefix = whole doc) with
    fim = 0 — every input doc yields exactly one output row.

    Guarantees pinned in tests: prefix/middle/suffix are non-empty for
    fim = 1 rows, and ``prefix + middle + suffix`` re-concatenates to
    the whitespace-normalized source (lossless)."""
    words = F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+")
    n = F.size(words)
    h1 = porthash(F.col(id_col).cast("string"), "fim1")
    h2 = porthash(F.col(id_col).cast("string"), "fim2")
    # a = prefix length in [1, n-2]; m = middle length in [1, n-a-1]
    a = (F.lit(1) + F.pmod(h1, n - 2)).cast("int")
    m = (F.lit(1) + F.pmod(h2, n - a - 1)).cast("int")
    eligible = n >= 3
    pre = F.when(eligible, F.array_join(F.slice(words, 1, a), " ")).otherwise(
        F.array_join(words, " ")
    )
    mid = F.when(
        eligible, F.array_join(F.slice(words, a + 1, m), " ")
    ).otherwise(F.lit(""))
    suf = F.when(
        eligible, F.array_join(F.slice(words, a + m + 1, n - a - m), " ")
    ).otherwise(F.lit(""))
    return df.select(
        F.col(id_col).alias("doc_id"),
        n.cast("bigint").alias("n_words"),
        eligible.cast("bigint").alias("fim"),
        pre.alias("prefix"),
        mid.alias("middle"),
        suf.alias("suffix"),
        F.concat(
            F.lit("<PRE>"), pre, F.lit("<SUF>"), suf, F.lit("<MID>"), mid
        ).alias("psm"),
    )


def _fim_oracle() -> str:
    h1 = duck_porthash("doc_id::VARCHAR", "fim1")
    h2 = duck_porthash("doc_id::VARCHAR", "fim2")
    return f"""
    WITH w AS (
      SELECT doc_id,
             string_split_regex(trim(coalesce(text, '')), '\\s+') AS ws
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


# -- span-corruption example generation (T5-style denoising prep) -------------


def span_corruption(
    df: DataFrame,
    id_col: str,
    text_col: str,
    start_mod: int = 7,
    span_len: int = 3,
) -> DataFrame:
    """T5-style span-corruption training-example generation (Raffel et
    al., "Exploring the Limits of Transfer Learning with a Unified
    Text-to-Text Transformer", 2020): mask word spans and emit the
    (input with numbered sentinels, target with the masked content)
    pair every denoising objective trains on.

    Span starts are hash-deterministic — position i starts a span iff
    porthash(doc_id:i) % start_mod == 0 (expected mask rate ≈
    span_len/start_mod) — so examples are reproducible across runs,
    engines, and partitionings; overlapping spans merge into one run
    and sentinels <X_k> number the runs left to right.

    Plan shape: one scan → token explode → THREE window passes over the
    same (doc_id ORDER BY i) partitioning (mask spread, run detection,
    run numbering — one Exchange total, Catalyst chains the sorts) →
    one keyed aggregate that assembles both strings order-exactly via
    array_sort(collect_list(struct(i, piece))).  Nothing all-pairs, no
    UDF, no driver state."""
    words = F.filter(
        F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"),
        lambda x: x != "",
    )
    toks = df.select(
        F.col(id_col).alias("doc_id"), F.posexplode(words).alias("p", "w")
    ).select("doc_id", (F.col("p") + 1).alias("i"), "w")
    sf = (
        F.pmod(
            porthash(
                F.concat(
                    F.col("doc_id").cast("string"), F.lit(":"), F.col("i").cast("string")
                ),
                "sc",
            ),
            F.lit(start_mod),
        )
        == 0
    ).cast("int")
    toks = toks.withColumn("sf", sf)
    wspread = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(-(span_len - 1), 0)
    )
    wseq = Window.partitionBy("doc_id").orderBy("i")
    toks = toks.withColumn("masked", F.max("sf").over(wspread))
    toks = toks.withColumn(
        "new_run",
        (
            (F.col("masked") == 1)
            & (F.lag("masked", 1, 0).over(wseq) == 0)
        ).cast("int"),
    ).withColumn(
        "run_k",
        F.sum("new_run").over(
            wseq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    sentinel = F.concat(F.lit("<X_"), F.col("run_k").cast("string"), F.lit(">"))
    piece_in = F.when(F.col("masked") == 0, F.col("w")).when(
        F.col("new_run") == 1, sentinel
    )
    piece_tg = F.when(
        (F.col("masked") == 1) & (F.col("new_run") == 1),
        F.concat(sentinel, F.lit(" "), F.col("w")),
    ).when(F.col("masked") == 1, F.col("w"))

    def assemble(piece):
        pairs = F.collect_list(F.struct(F.col("i"), piece.alias("piece")))
        return F.array_join(
            F.filter(
                F.transform(F.array_sort(pairs), lambda s: s.getField("piece")),
                lambda x: x.isNotNull(),
            ),
            " ",
        )

    out = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum("masked").cast("bigint").alias("n_masked"),
        F.max("run_k").cast("bigint").alias("n_spans"),
        assemble(piece_in).alias("model_input"),
        assemble(piece_tg).alias("model_target"),
    )
    return out


def _span_corruption_oracle(start_mod: int = 7, span_len: int = 3) -> str:
    h = duck_porthash("doc_id::VARCHAR || ':' || i::VARCHAR", "sc")
    return f"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(coalesce(text, '')), '\\s+'),
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


# -- source-level token-budget water-filling -----------------------------------


def budget_waterfill(
    df: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str,
    budget_tokens: int,
) -> DataFrame:
    """Greedy water-filling of a global token budget across SOURCES by
    mean quality — the source-granularity complement to `budget_select`
    (which picks documents): rank sources by mean quality, fill each
    source's full token capacity in rank order until the budget runs
    out, give the boundary source the remainder.  This is the "which
    domains make the cut, and how much of the boundary domain" planning
    readout a mixture owner computes before touching any document.

    One corpus scan (quality + token count + source in a single
    projection via ``keep_cols``) → |sources| summary rows; mean
    quality is an exact integer (micro-unit quality sum DIV doc count
    — truncation division on both engines), so the ranking and the
    closed-form allocation ``clamp(B − prefix_cap, 0, cap)`` are
    integer algebra end to end.  The single-partition window is over
    |sources| rows — the dimension-sized exception the histogram
    queries already use."""
    from dask_obj_spark.operators.text import quality_scores

    scored = quality_scores(df, id_col, text_col, keep_cols=[source_col])
    per_src = scored.groupBy(source_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("cap_tokens"),
        F.sum(F.floor(F.col("quality") * 1e6).cast("bigint"))
        .cast("bigint")
        .alias("qsum_u"),
    )
    per_src = per_src.withColumn("mq_u", F.expr("qsum_u div n_docs"))
    w = Window.orderBy(F.desc("mq_u"), F.asc(source_col)).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = per_src.withColumn(
        "prefix_tokens",
        (F.sum("cap_tokens").over(w) - F.col("cap_tokens")).cast("bigint"),
    )
    alloc = F.greatest(
        F.lit(0).cast("bigint"),
        F.least(
            F.col("cap_tokens"),
            F.lit(int(budget_tokens)).cast("bigint") - F.col("prefix_tokens"),
        ),
    )
    return ranked.select(
        F.col(source_col).alias("source"),
        "n_docs",
        "mq_u",
        "cap_tokens",
        "prefix_tokens",
        alloc.alias("alloc_tokens"),
        (alloc == F.col("cap_tokens")).cast("bigint").alias("filled"),
    )


def _waterfill_oracle(budget_tokens: int) -> str:
    from dask_obj_spark.operators.text import duck_quality_select

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


# -- exact stratified k-fold assignment ----------------------------------------


def kfold_exact(
    df: DataFrame, id_col: str, strata_col: str, k: int
) -> DataFrame:
    """EXACT stratified k-fold assignment: within each stratum, docs
    are ranked by (portable hash, id) and folds assigned round-robin —
    so every stratum lands in every fold in proportions that differ by
    at most ONE document (the guarantee `hash_split`'s independent
    per-doc draws cannot give: binomial noise is ±√n per cell, which
    at small strata breaks cross-validation comparability).

    Deterministic and engine-portable: the rank key is the salted
    portable hash with id tiebreak, so the same corpus always yields
    the same folds.  One shuffle on the stratum key; the window is
    per-stratum (parallel across strata), never global."""
    w = Window.partitionBy("stratum").orderBy(
        porthash(F.col("doc_id").cast("string"), "kfold"), F.col("doc_id")
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.col(strata_col).alias("stratum"),
    ).withColumn(
        "fold", ((F.row_number().over(w) - 1) % F.lit(int(k))).cast("bigint")
    )


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


# -- leakage-safe split (cluster-aware train/val/test) -------------------------


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    fractions: dict[str, float],
) -> DataFrame:
    """Train/val/test split that hashes the near-dup CLUSTER id, not
    the document id — so two near-duplicate documents can never land
    on opposite sides of the split (the eval-leakage failure mode of
    per-doc hashing: a paraphrase of a validation doc in train reads
    as generalization but is memorization).  Composition of the
    shipped pieces: `dedup_cluster_assignment` (connected components
    over the candidate pairs) → `hash_split` keyed on cluster_id.

    Scale shape: inherits the O(log n) large-star/small-star rounds of
    the component builder; the split itself adds one hash expression —
    no extra shuffle beyond the cluster assignment's."""
    assigned = dedup_cluster_assignment(docs, pairs, id_col)
    split = hash_split(
        assigned.select(F.col("cluster_id").alias("cid")).distinct(),
        "cid",
        fractions,
    ).select(F.col("cid").alias("cluster_id"), "split")
    return assigned.select("doc_id", "cluster_id").join(
        split, "cluster_id"
    ).select("doc_id", "cluster_id", "split")


def _leakage_split_oracle() -> str:
    # the hash_split cutoffs for {"train": .8, "val": .1, "test": .1}
    return (
        _clusters_ctes()
        + """
    , assigned AS (
      SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
    )
    SELECT doc_id, cluster_id,
           CASE
             WHEN ('0x' || substr(md5(cluster_id::VARCHAR || '#split'), 1, 15))::BIGINT
                  % 1000000 < 800000 THEN 'train'
             WHEN ('0x' || substr(md5(cluster_id::VARCHAR || '#split'), 1, 15))::BIGINT
                  % 1000000 < 900000 THEN 'val'
             ELSE 'test'
           END AS split
    FROM assigned
    """
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


# -- packed-row segment metadata (attention-mask boundaries) -------------------


def pack_segments(
    df: DataFrame,
    id_col: str,
    text_col: str,
    stream_col: str,
    budget: int,
) -> DataFrame:
    """Per packed training row, the SEGMENT TABLE a loader needs to
    build block-diagonal attention masks and reset position ids at
    document boundaries: for every bin, the in-order list of
    (doc_id : start_token : n_tokens) triples serialized as one
    string column.  Without this table, packed sequences silently
    cross-attend between unrelated documents — the well-known packing
    bug this metadata exists to prevent.

    Same binning as `pack_bins`/`pack_payload` (prefix-sum first-fit
    per stream, in id order); the per-bin running start offsets come
    from a second window over the SAME (stream, id) sort, so Catalyst
    chains both windows and the final aggregate behind one Exchange.
    The segment string assembles order-exactly via
    array_sort(collect_list(struct)) — never raw collect_list order."""
    n_tok = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    w = (
        Window.partitionBy(stream_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    binned = df.select(
        F.col(id_col), F.col(stream_col), n_tok.alias("n_tokens")
    ).withColumn("cum", F.sum("n_tokens").over(w)).withColumn(
        "bin_id",
        F.floor((F.col("cum") - F.col("n_tokens")) / F.lit(budget)).cast(
            "bigint"
        ),
    )
    wb = (
        Window.partitionBy(stream_col, "bin_id")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seg = binned.withColumn(
        "start", (F.sum("n_tokens").over(wb) - F.col("n_tokens")).cast("bigint")
    ).withColumn(
        "piece",
        F.concat_ws(
            ":",
            F.col(id_col).cast("string"),
            F.col("start").cast("string"),
            F.col("n_tokens").cast("string"),
        ),
    )
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct(F.col(id_col), F.col("piece")))),
        lambda s: s["piece"],
    )
    return seg.groupBy(stream_col, "bin_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("bin_tokens"),
        F.concat_ws("|", ordered).alias("segments"),
    )


@query(
    "corpus_pack_segments",
    oracle="""
    WITH t AS (
      SELECT doc_id, source,
             len(string_split_regex(trim(text), '\\s+'))::BIGINT AS n_tokens
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


# -- per-document n-gram novelty (dedup-ROI readout) ---------------------------


def ngram_novelty(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Per-document n-gram NOVELTY in arrival (id) order: what fraction
    of a doc's distinct n-grams has never appeared in any earlier doc?
    The marginal-information curve a dedup/budget decision reads — when
    late documents contribute mostly seen n-grams, more data from the
    same crawl buys little (the data-constrained-scaling readout at the
    n-gram level).

    Two aggregates over one shingle explode: min(doc_id) per gram (the
    first-occurrence table, gram-keyed), then a per-doc count of grams
    whose first occurrence is the doc itself.  Everything integer;
    novelty emitted in micro-units via one exact integer division
    pair (novel·1e6 DIV distinct)."""
    sh = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(F.col(text_col), n)).alias("g"),
    ).filter(F.col("g") != "")
    first = sh.groupBy("g").agg(F.min("doc_id").alias("first_id"))
    per_doc = (
        sh.join(first, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_distinct_grams"),
            F.sum(
                F.when(F.col("first_id") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_distinct_grams",
        "n_novel",
        F.expr("n_novel * CAST(1000000 AS BIGINT) div n_distinct_grams").alias(
            "novelty_x1m"
        ),
    )


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


# -- per-source quantile normalization of quality ------------------------------


def quality_quantile_norm(
    df: DataFrame, id_col: str, text_col: str, source_col: str
) -> DataFrame:
    """Per-source QUANTILE normalization of the heuristic quality score
    — the calibration step before any GLOBAL quality threshold: raw
    quality distributions differ by domain (a mid-tier academic page
    outscores a top-tier forum post on raw ratios), so thresholding raw
    scores silently reweights the mixture.  Rank-normalizing within
    each source makes "top 20% of every domain" mean the same thing
    everywhere.

    q_norm = rank·1e6 DIV n_source (average-free, exact integers; ties
    broken by doc id so the normalized score is deterministic).  One
    corpus scan (quality + source in one projection), one per-source
    window — no global sort anywhere."""
    from dask_obj_spark.operators.text import quality_scores

    scored = quality_scores(df, id_col, text_col, keep_cols=[source_col])
    w = Window.partitionBy(source_col).orderBy(
        "quality", F.col(id_col)
    )
    nw = Window.partitionBy(source_col)
    return scored.select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("source"),
        F.floor(F.col("quality") * 1e6).cast("bigint").alias("quality_u"),
        F.row_number().over(w).alias("rnk"),
        F.count(F.lit(1)).over(nw).alias("n_src"),
    ).select(
        "doc_id",
        "source",
        "quality_u",
        F.expr("rnk * CAST(1000000 AS BIGINT) div n_src").alias("qnorm_x1m"),
    )


def _qnorm_oracle() -> str:
    from dask_obj_spark.operators.text import duck_quality_select

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


# -- log2-bucketed sequence-length histogram ------------------------------------


def length_histogram(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Doc-length histogram in power-of-two buckets — the
    sequence-length distribution a packing/padding decision reads
    (padding waste at max_len=2048 is read STRAIGHT off this table:
    everything in buckets ≤ 2^k wastes 2048 − ~2^k per row).

    Bucket = bit_length(n_tokens), computed by a pure-integer
    comparison chain (the HLL rho discipline — never floor(log2):
    libm at exact powers of two is a cross-engine hazard).  One scan,
    one ≤64-row aggregate; token sums exact BIGINTs."""
    n = F.size(
        F.filter(
            F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"),
            lambda x: x != "",
        )
    ).cast("bigint")
    expr = None
    for b in range(31, 0, -1):
        cond = n >= (1 << (b - 1))
        expr = F.when(cond, b) if expr is None else expr.when(cond, b)
    bucket = expr.otherwise(0)
    per = df.select(n.alias("n_tokens"), bucket.cast("bigint").alias("bucket"))
    return per.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
        F.min("n_tokens").cast("bigint").alias("min_tokens"),
        F.max("n_tokens").cast("bigint").alias("max_tokens"),
    )


def _length_hist_oracle() -> str:
    arms = " ".join(
        f"WHEN n >= {1 << (b - 1)} THEN {b}" for b in range(31, 0, -1)
    )
    return f"""
    WITH t AS (
      SELECT len(list_filter(
               string_split_regex(trim(coalesce(text, '')), '\\s+'),
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


# -- decontamination impact readout ---------------------------------------------


def decontam_impact(
    df: DataFrame,
    id_col: str,
    text_col: str,
    source_col: str,
    eval_mod: int = 20,
    shingle_n: int = 8,
    min_overlap: int = 1,
) -> DataFrame:
    """What does decontamination COST, per source?  Flag train docs via
    `contamination_hits` (≥ ``min_overlap`` shared eval shingles) and
    report per-source kept/dropped doc and token counts plus the
    dropped-token share in micro-units — the readout a pipeline owner
    checks before applying the filter (a source losing 30% of its
    tokens to eval overlap is a curation bug, not contamination).

    One extra corpus projection (tokens + source) left-joined to the
    bounded flagged set; integer end to end (token counts, micro-unit
    share via exact division)."""
    flagged = (
        contamination_hits(df, id_col, text_col, eval_mod, shingle_n)
        .filter(F.col("n_overlap") >= min_overlap)
        .select(F.col("doc_id").alias("fid"))
    )
    train = df.filter(F.col(id_col) % eval_mod != 0).select(
        F.col(id_col).alias("doc_id"),
        F.col(source_col).alias("source"),
        F.size(
            F.filter(
                F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"),
                lambda x: x != "",
            )
        )
        .cast("bigint")
        .alias("n_tokens"),
    )
    j = train.join(flagged, train.doc_id == flagged.fid, "left").withColumn(
        "dropped", F.col("fid").isNotNull().cast("int")
    )
    agg = j.groupBy("source").agg(
        F.sum(F.when(F.col("dropped") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_kept"),
        F.sum(F.when(F.col("dropped") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dropped"),
        F.sum(F.when(F.col("dropped") == 0, F.col("n_tokens")).otherwise(0))
        .cast("bigint")
        .alias("tokens_kept"),
        F.sum(F.when(F.col("dropped") == 1, F.col("n_tokens")).otherwise(0))
        .cast("bigint")
        .alias("tokens_dropped"),
    )
    return agg.withColumn(
        "drop_share_x1m",
        F.expr(
            "tokens_dropped * CAST(1000000 AS BIGINT) div "
            "greatest(tokens_kept + tokens_dropped, CAST(1 AS BIGINT))"
        ),
    )


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
             len(list_filter(string_split_regex(trim(coalesce(d.text, '')),
                 '\\s+'), x -> x <> ''))::BIGINT AS n_tokens,
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
