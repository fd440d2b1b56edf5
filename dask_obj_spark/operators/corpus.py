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
    porthash,
    word_ngrams,
    word_shingles,
    ws_tokens,
)
from dask_obj_spark.functions.vec import fixed_dot, fixed_norm
from dask_obj_spark.pinning import fixpoint, pin, scoped

# -- connected components -----------------------------------------------------


@scoped
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
    raw = pin(edges.select(F.col(src).alias("u"), F.col(dst).alias("v")))
    # vertex set from the RAW edges: a vertex appearing only in a
    # self-loop is still a (singleton) component
    verts = pin(
        raw.select(u.alias("id"))
        .union(raw.select(v.alias("id")))
        .distinct()
    )
    e = pin(raw.filter(u != v).distinct())

    def signature(df: DataFrame):
        # bit_xor, not sum: order-insensitive over the (distinct) edge set
        # and cannot overflow under ANSI arithmetic
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(F.least(u, v), F.greatest(u, v))).alias("h"),
        ).first()
        return (row["n"], row["h"])

    def star_round(e: DataFrame) -> DataFrame:
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
        return (
            directed.join(smins, "u")
            .select(v.alias("u"), F.col("m").alias("v"))
            .union(smins.select(F.col("u"), F.col("m").alias("v")))
            .filter(u != v)
            .distinct()
        )

    e, rounds = fixpoint(e, star_round, signature, max_rounds=max_iter)
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


@scoped
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
    ed = pin(edges.select(F.col(src).alias("s"), F.col(dst).alias("d")))
    sym = pin(
        ed.union(ed.select(F.col("d").alias("s"), F.col("s").alias("d"))).distinct()
    )
    verts = pin(sym.select(F.col("s").alias("id")).distinct())
    n = verts.count()
    outdeg = sym.groupBy("s").agg(F.count(F.lit(1)).alias("outdeg"))
    ranks = verts.withColumn("rank", F.lit(1.0 / n))
    base = F.lit((1.0 - damping) / n)

    def step(ranks: DataFrame) -> DataFrame:
        contrib = (
            sym.join(ranks, sym["s"] == ranks["id"])
            .join(outdeg, "s")
            .select(F.col("d"), (F.col("rank") / F.col("outdeg")).alias("c"))
        )
        sums = contrib.groupBy("d").agg(F.sum("c").alias("in_sum"))
        return verts.join(sums, verts["id"] == sums["d"], "left").select(
            "id",
            (base + F.lit(damping) * F.coalesce(F.col("in_sum"), F.lit(0.0))).alias(
                "rank"
            ),
        )

    ranks, _ = fixpoint(ranks, step, None, rounds=n_iter)
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
    n_tok = F.size(ws_tokens(text_col))
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
    n_tok = F.size(ws_tokens(text_col))
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
        F.posexplode(ws_tokens(text_col)).alias("pos", "w"),
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


def _bpe_rounds(
    df: DataFrame, id_col: str, text_col: str, rounds: int, apply_last: bool
) -> tuple[DataFrame, DataFrame, list[tuple[int, str, str, int]]]:
    """The BPE loop: `rounds` alternations of corpus-wide pair counting
    and greedy merge application over one pinned (doc_id, i, s, w2)
    symbol table.  Per round ONE tiny
    pair-count job (partial agg → distinct pairs only → TakeOrdered(1)
    → bounded 1-row collect, the PCA recipe) and ONE single-Exchange
    merge-apply job, pinned like the other iterative operators
    (connected_components, kmeans).  The last round's merge is applied
    only when `apply_last` (a caller that reads just the merge table
    skips its never-consumed symbol update).  When no adjacent pair is
    left the loop stops and the final table is empty (every position
    had a null w2 ⇒ single-token docs only).

    Returns (initial symbols, final symbols, [(round, w1, w2, n)])."""
    sym0 = sym = pin(
        _bpe_pair_w2(
            df.select(
                F.col(id_col).alias("doc_id"),
                F.posexplode(ws_tokens(text_col)).alias("i", "s"),
            )
        )
    )
    merges = []
    for r in range(1, rounds + 1):
        best = _bpe_best_pair_rows(sym)
        if not best:
            return sym0, sym.filter(F.lit(False)), merges
        w1, w2, n = best[0]["w1"], best[0]["w2"], best[0]["n"]
        merges.append((r, w1, w2, n))
        if r < rounds or apply_last:
            sym = pin(_bpe_apply_literal(sym, w1, w2))
    return sym0, sym, merges


@scoped
def bpe_learn_merges(
    df: DataFrame, id_col: str, text_col: str, rounds: int = 3
) -> DataFrame:
    """Iterative BPE vocabulary learning over word symbols: `rounds`
    alternations of corpus-wide pair counting and greedy merge
    application (Sennrich et al. 2016, the tokenizer-training loop).
    Returns the learned merge table (round, w1, w2, n), rebuilt from
    the collected rows of :func:`_bpe_rounds`, so the per-round
    aggregations are not re-run by the output, and the rounds stop
    early when no adjacent pair is left."""
    _, _, merges = _bpe_rounds(df, id_col, text_col, rounds, apply_last=False)
    return df.sparkSession.createDataFrame(
        merges, "round INT, w1 STRING, w2 STRING, n BIGINT"
    )


# -- triangle counting --------------------------------------------------------


@scoped
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
    e = pin(
        edges.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
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


@scoped
def bpe_apply_stats(
    df: DataFrame, id_col: str, text_col: str, rounds: int = 3
) -> DataFrame:
    """Run the BPE loop and report per-doc compression — token count
    before vs symbol count after the learned merges are applied (the
    go/no-go metric for a tokenizer change: how many tokens a given
    merge table actually saves on the corpus).

    The loop is :func:`_bpe_rounds`; the before-count reads its
    initial pinned symbol table."""
    sym0, sym, _ = _bpe_rounds(df, id_col, text_col, rounds, apply_last=True)
    before = sym0.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tokens"))
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


@scoped
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
    inv = pin(
        df.select(
            F.col(key_col).alias("src"),
            F.explode(word_shingles(F.col(text_col), n)).alias("sh"),
        )
        .distinct()
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


@scoped
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
    ed = pin(edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).distinct())
    hubs = pin(ed.select(F.col("s").alias("id")).distinct().withColumn("h", F.lit(1.0)))
    auths = None
    for _ in range(n_iter):
        a_raw = (
            ed.join(hubs, ed["s"] == hubs["id"])
            .groupBy("d")
            .agg(F.sum("h").alias("a"))
        )
        a_max = a_raw.agg(F.max("a").alias("m"))
        auths = pin(
            a_raw.crossJoin(F.broadcast(a_max))
            .select(F.col("d").alias("id"), (F.col("a") / F.col("m")).alias("a"))
        )
        h_raw = (
            ed.join(auths, ed["d"] == auths["id"])
            .groupBy("s")
            .agg(F.sum("a").alias("h"))
        )
        h_max = h_raw.agg(F.max("h").alias("m"))
        hubs = pin(
            h_raw.crossJoin(F.broadcast(h_max))
            .select(F.col("s").alias("id"), (F.col("h") / F.col("m")).alias("h"))
        )
    return hubs.select("id", F.lit("hub").alias("kind"), F.round("h", 6).alias("score")).union(
        auths.select("id", F.lit("authority").alias("kind"), F.round("a", 6).alias("score"))
    )


# -- DSIR importance resampling ----------------------------------------------


@scoped
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
    bc = pin(
        bg.groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("tgt"), 1).otherwise(0)).alias("ct"),
            F.sum(F.when(~F.col("tgt"), 1).otherwise(0)).alias("cr"),
        )
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
    of `cap_per_facet` (uniform); the primitive behind
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
        df.select(F.explode(ws_tokens(text_col)).alias("w"))
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
            ws_tokens(F.coalesce(F.col(text_col), F.lit(""))),
            lambda w: w != "",
        ).alias("words"),
    )
    return src.mapInPandas(
        roundtrip_part,
        "doc_id long, n_words long, rebuilt_md5 string, ok long",
    )


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
    n_tok = F.size(ws_tokens(text_col))
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


# -- corpus monitoring: quality drift (PSI) and snapshot diff -----------------


@scoped
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
    sb = pin(
        scored.groupBy("src", "bkt")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
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
    words = ws_tokens(F.coalesce(F.col(text_col), F.lit("")))
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
        ws_tokens(F.coalesce(F.col(text_col), F.lit(""))),
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
    n_tok = F.size(ws_tokens(text_col))
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
            ws_tokens(F.coalesce(F.col(text_col), F.lit(""))),
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
                ws_tokens(F.coalesce(F.col(text_col), F.lit(""))),
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
