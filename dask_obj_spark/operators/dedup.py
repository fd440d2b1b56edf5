"""Deduplication operators (north-star Tier E; SURVEY.md §2 Tier E rows).

Five families, all designed for 100 TB operation:

- **exact**: hash-groupBy on content (two-phase hash agg, no sort).
- **MinHash + LSH**: word-shingle → H portable min-hashes → band-bucket →
  candidate pairs via equi-join on (band, hash) — the standard
  sub-quadratic near-dup pipeline.  Every step is JVM-side DataFrame ops
  (explode/transform/groupBy/join); no UDFs.
- **SimHash**: frequency-weighted bitwise fingerprint; near-dups have
  small Hamming distance.
- **n-gram Jaccard**: exact pairwise similarity via shingle explode +
  equi-join on shingle (inverted index join), intersection counts from
  groupBy — the verification stage after LSH candidates.
- **embedding cosine**: near-dup by vector similarity (see also
  operators/similarity.py).

Scale notes: the only quadratic surface is candidate-pair verification,
bounded by LSH bucket sizes; hot shingles (stop-phrases) are the skew
risk — mitigated by `max_shingle_freq` frequency capping, the standard
trick (drop shingles appearing in too many docs; they carry no signal).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dask_obj_spark.functions.hashing import porthash, word_shingles, ws_tokens
from dask_obj_spark.functions.vec import fixed_dot, fixed_norm
from dask_obj_spark.operators.similarity import DIM as _SIM_DIM
from dask_obj_spark.pinning import pin, scoped

# -- exact dedup --------------------------------------------------------------


def exact_dedup(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Exact dedup: dropDuplicates on the given columns (hash-based)."""
    return df.dropDuplicates(cols) if cols else df.dropDuplicates()


def exact_dedup_groups(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Per-content groups: keeper id (min) + copy count; the 100 TB form
    hashes content first so the shuffle carries 8-byte keys, not payloads."""
    return (
        df.select(id_col, F.md5(F.col(content_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# -- MinHash ------------------------------------------------------------------


def minhash_signature(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 16, shingle_n: int = 4
) -> DataFrame:
    """Per-doc MinHash signature: sig[i] = min over shingles of hash_i.

    Shape: explode shingles to rows, evaluate the H hashes as TOP-LEVEL
    column expressions, then min-aggregate back per doc. Hash evaluation
    inside `F.transform` lambdas runs in Catalyst's interpreted mode
    (higher-order functions don't get whole-stage codegen) and measured
    ~30x slower; at row level the md5 chain is codegen'd. The groupBy is
    algebraic (min), so partial aggregation shrinks the shuffle to one
    row per (doc, partition)."""
    # one TINY shuffle of the raw doc rows by id up front: the hash
    # partitioning survives explode/project, so the shingle explode and
    # the 16 hash evaluations parallelize across all cores regardless of
    # input file layout, and the final groupBy(doc_id) needs NO second
    # exchange. Explicit partition count: this is a compute-bound stage,
    # AQE's size-based coalescing must not shrink it.
    ncores = df.sparkSession.sparkContext.defaultParallelism
    sh_rows = df.repartition(ncores, F.col(id_col)).select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(text_col, shingle_n)).alias("shingle"),
    )
    hashed = sh_rows.select(
        "doc_id",
        *[porthash(F.col("shingle"), str(i)).alias(f"h{i}") for i in range(num_hashes)],
    )
    mins = hashed.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"m{i}") for i in range(num_hashes)]
    )
    return mins.select(
        "doc_id", F.array(*[F.col(f"m{i}") for i in range(num_hashes)]).alias("sig")
    )


def lsh_bands(sig_df: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """Explode a signature into (doc_id, band_id, band_hash): docs sharing
    any band land in the same bucket."""
    pairs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(
                    F.array_join(
                        F.transform(
                            F.slice("sig", b * rows_per_band + 1, rows_per_band),
                            lambda x: x.cast("string"),
                        ),
                        ",",
                    )
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )
    return sig_df.select("doc_id", F.explode(pairs).alias("band")).select(
        "doc_id", "band.band_id", "band.band_hash"
    )


@scoped
def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 4,
    min_est_jaccard: float = 0.5,
) -> DataFrame:
    """LSH candidate pairs with estimated Jaccard (= fraction of equal
    signature components).  Join is equi on (band_id, band_hash) — a hash
    join whose cost is bucket-bounded, never all-pairs."""
    rows_per_band = num_hashes // bands
    sig = pin(minhash_signature(df, id_col, text_col, num_hashes, shingle_n))
    bands_df = lsh_bands(sig, bands, rows_per_band)
    a, b = bands_df.alias("a"), bands_df.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        .distinct()
    )
    sa, sb = sig.alias("sa"), sig.alias("sb")
    est = F.round(
        F.size(
            F.filter(
                F.zip_with(F.col("sa.sig"), F.col("sb.sig"), lambda x, y: x == y),
                lambda eq: eq,
            )
        )
        / F.lit(num_hashes),
        6,
    )
    return (
        cand.join(sa, cand.id1 == F.col("sa.doc_id"))
        .join(sb, cand.id2 == F.col("sb.doc_id"))
        .select("id1", "id2", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= min_est_jaccard)
    )


# -- exact n-gram Jaccard -----------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 4,
    threshold: float = 0.6,
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """Exact Jaccard over distinct word shingles via inverted-index join.

    |A∩B| from groupBy on joined shingles; |A∪B| = |A|+|B|−|A∩B|.
    ``max_shingle_freq`` drops stop-shingles (appear in > N docs) before
    the join — the skew guard that keeps this viable at scale."""
    sh = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(text_col, shingle_n)).alias("shingle"),
    ).distinct()
    if max_shingle_freq is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df_"))
            .filter(F.col("df_") > max_shingle_freq)
            .select("shingle")
        )
        # hot set is bounded by total_shingles/threshold — linear in the
        # corpus, NOT constant-bounded, so no broadcast hint: AQE picks
        # broadcast at demo scale, shuffled anti-join at 100 TB
        sh = sh.join(hot, "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.round(
        F.col("n_common") / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_common")), 6
    )
    return (
        inter.join(sa, F.col("id1") == F.col("sa.doc_id"))
        .join(sb, F.col("id2") == F.col("sb.doc_id"))
        .select("id1", "id2", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# -- SimHash ------------------------------------------------------------------

SIMHASH_BITS = 24


def simhash_fingerprint(df: DataFrame, id_col: str, text_col: str, bits: int = SIMHASH_BITS) -> DataFrame:
    """Frequency-weighted SimHash: per token occurrence, each fingerprint
    bit votes +1/−1 by the token-hash bit; majority sign sets the bit.

    Explode + single groupBy (partial+final agg); ``bits`` aggregate
    expressions are generated, all codegen'd."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(ws_tokens(text_col)).alias("tok"),
    ).withColumn("h", porthash(F.col("tok"), "sim"))
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"v{b}")
            for b in range(bits)
        ]
    )
    fp = None
    for b in range(bits):
        term = F.when(F.col(f"v{b}") > 0, F.lit(2**b)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return votes.select("doc_id", fp.cast("bigint").alias("fingerprint"))


def simhash_near_pairs(fp_df: DataFrame, max_hamming: int = 3, bits: int = SIMHASH_BITS) -> DataFrame:
    """Near-dup pairs by Hamming distance over fingerprints, bucketed by
    fingerprint blocks: the fingerprint is split into ``max_hamming + 1``
    blocks, so a pair within distance ``max_hamming`` differs in at most
    ``max_hamming`` blocks and must share at least one block verbatim
    (pigeonhole) — COMPLETE recall without the full cross join.  Each
    doc lands in ``max_hamming + 1`` buckets; join cost is bucket-bounded.

    Degenerate case ``max_hamming >= bits``: no block split can help
    (a pair may differ in every block), so everything shares one bucket
    — the exact all-pairs semantics, at cross-join cost."""
    if max_hamming >= bits:
        keyed = fp_df.select("doc_id", "fingerprint", F.lit("all").alias("bucket"))
    else:
        n_blocks = max_hamming + 1
        base, rem = divmod(bits, n_blocks)
        widths = [base + 1] * rem + [base] * (n_blocks - rem)  # every block ≥ 1 bit
        keys, off = [], 0
        for i, w in enumerate(widths):
            keys.append(
                F.concat(
                    F.lit(f"b{i}_"),
                    F.shiftright(F.col("fingerprint"), off).bitwiseAND(F.lit(2**w - 1)),
                )
            )
            off += w
        keyed = fp_df.select(
            "doc_id", "fingerprint", F.explode(F.array(*keys)).alias("bucket")
        )
    a, b = keyed.alias("a"), keyed.alias("b")
    ham = F.bit_count(
        F.col("a.fingerprint").bitwiseXOR(F.col("b.fingerprint"))
    )
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id1"),
            F.col("b.doc_id").alias("id2"),
            ham.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# -- embedding cosine near-dup ------------------------------------------------


def embedding_near_dups(
    df: DataFrame, id_col: str, vec_col: str, probe_mod: int, threshold: float
) -> DataFrame:
    """Cosine near-dups of probe vectors (id % probe_mod == 0) against the
    corpus: broadcast the small probe side, JVM fold for the dot product."""
    # norms factored out before the pair join: identical subexpressions,
    # bit-identical results, 1 fold per pair instead of 3; r15:
    # width-guarded unrolled kernels (functions/vec.py)
    base = df.select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("v")
    ).withColumn("vn", fixed_norm("v", _SIM_DIM))
    probes = base.filter(F.col("vid") % probe_mod == 0).select(
        F.col("vid").alias("pid"), F.col("v").alias("pv"), F.col("vn").alias("pn")
    )
    pairs = base.join(F.broadcast(probes), F.col("pid") < F.col("vid"))
    sim = F.round(fixed_dot("pv", "v", _SIM_DIM) / (F.col("pn") * F.col("vn")), 6)
    return pairs.select(
        F.col("pid").alias("id1"), F.col("vid").alias("id2"), sim.alias("cosine")
    ).filter(F.col("cosine") >= threshold)


# -- semantic dedup (SemDeDup-style) ------------------------------------------


def _semantic_cells(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cell_mod: int,
    centroids: DataFrame | None,
) -> DataFrame:
    """The cell-assignment subplan of `semantic_dedup` /
    `semantic_contamination`: ``(vid, v, vn, cell)`` — corpus ×
    centroids scoring join + per-id argmax.  Split out (optimization
    r15) so the plan-shape lock
    (test_semantic_dedup_plan_broadcasts_centroids) can assert the
    assignment's broadcast/no-cartesian shape directly: in
    `semantic_dedup` this subplan is pinned behind a `localCheckpoint`,
    which truncates it out of the final query plan."""
    # norms are computed ONCE per vector/centroid before the pair joins:
    # `dot/(‖a‖·‖b‖)` evaluates the identical sqrt-fold subexpressions,
    # so values (and the oracle hash) are bit-unchanged, but per-pair
    # interpreted work drops from 3 folds to 1 (similarity._cosine_pairs;
    # measured ~2.5× on this operator at sf0.1).
    # r15: width-guarded unrolled kernels (functions/vec.py)
    base = df.select(
        F.col(id_col).alias("vid"), F.col(vec_col).cast("array<double>").alias("v")
    ).withColumn("vn", fixed_norm("v", _SIM_DIM))
    if centroids is not None:
        # trained constant-k path (kmeans_fit output): bounded by k
        # regardless of corpus size — the broadcast HINT is safe
        cents = F.broadcast(
            centroids.select(
                F.col("cid"),
                F.col("cv").cast("array<double>").alias("cv"),
            ).withColumn("cn", fixed_norm("cv", _SIM_DIM))
        )
    else:
        # modular oracle-replay set: N/cell_mod rows grows with the
        # corpus — no hard-coded broadcast hint (r7 verdict #4); the
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
            (fixed_dot("v", "cv", _SIM_DIM) / (F.col("vn") * F.col("cn"))).alias("cs"),
            "cid",
        )
        .withColumn("rn", F.row_number().over(aw))
        .filter(F.col("rn") == 1)
        .select("vid", "v", "vn", F.col("cid").alias("cell"))
    )
    return cells


@scoped
def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    tau: float,
    cell_mod: int = 61,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column
    (Abbas et al. 2023 pattern): cluster the corpus into coarse cells,
    then within each cell drop every vector whose cosine similarity to a
    LOWER-id cell member is >= ``tau`` (greedy keep-lowest-id canonical,
    the same keeper rule as ``exact_dedup_groups``).

    The reference has no vector ops at all (SURVEY.md §2 Tier E;
    /root/reference/src/dask_obj/core.py:3-10 imports only
    dask/toolz/operator) — this is north-star surface built Spark-first.

    100 TB shape: identical to the IVF index (operators/similarity.py).
    The centroid table is tiny and broadcast; assignment is a broadcast
    nested-loop + per-id argmax with NO corpus shuffle; the only
    pairwise surface is the within-cell self-join — an equi-join on
    cell id, bounded by cell size, never all-pairs. In production cells
    come from `kmeans_fit` and the cell table is a standing bucketed
    dataset (`build_ann_index`); here centroids are deterministic
    (vid % cell_mod == 1) so the DuckDB oracle replays the exact index.
    Deletion rate is tuned by ``tau`` exactly as in the paper.
    """
    cells = _semantic_cells(df, id_col, vec_col, cell_mod, centroids)
    if centroids is None:
        # materialize the modular cell assignment ONCE (optimization
        # r15, guide §3.3/§5): it is consumed FOUR times below (pair
        # join both sides + keep join + final projection), and each copy
        # embeds the corpus x centroids scoring join — re-executed per
        # copy and, with the r15 unrolled cosine kernels, expensive to
        # re-analyze per copy per job.  The trained constant-k path is
        # left un-pinned: its broadcast-hinted bounded-k assignment is
        # cheap to replay, and pinning would truncate the hint out of
        # the analyzed plan (pinned by
        # test_semantic_cell_broadcast_hint_is_conditional)
        cells = pin(cells)
    lower = cells.select(
        F.col("cell"),
        F.col("vid").alias("vid2"),
        F.col("v").alias("v2"),
        F.col("vn").alias("vn2"),
    )
    dropped = (
        cells.join(lower, "cell")
        .filter(F.col("vid2") < F.col("vid"))
        .filter(
            F.round(
                fixed_dot("v", "v2", _SIM_DIM) / (F.col("vn") * F.col("vn2")), 6
            )
            >= tau
        )
        .select("vid")
        .distinct()
        .withColumn("dropped", F.lit(True))
    )
    return (
        cells.join(dropped, "vid", "left")
        .select("vid", "cell", F.coalesce(~F.col("dropped"), F.lit(True)).alias("keep"))
    )


# -- edit-distance fuzzy join (entity resolution) -----------------------------


def fuzzy_name_pairs(
    df: DataFrame, name_col: str, max_dist: int = 3
) -> DataFrame:
    """Token-blocked edit-distance self-join — the entity-resolution
    primitive (catalog/name dedup: 'cold anvil' ≈ 'old anvil').

    Blocking: candidates must share at least one whitespace token
    (explode tokens → equi-join on the token → distinct pairs), which
    turns the quadratic all-pairs into bucket-bounded equi-join work —
    the same inverted-index shape as `ngram_jaccard_pairs`, so at
    100 TB a stop-token frequency cap bounds the hottest buckets.  The
    verifier is a single codegen `levenshtein` per candidate.  The
    blocking is part of the operator's contract (a pair sharing no
    token is never compared), and the oracle replays block + verify
    identically."""
    names = df.select(F.col(name_col).alias("n")).distinct()
    toks = names.select("n", F.explode(F.split("n", " ")).alias("w"))
    cand = (
        toks.alias("a")
        .join(toks.alias("b"), "w")
        .filter(F.col("a.n") < F.col("b.n"))
        .select(F.col("a.n").alias("n1"), F.col("b.n").alias("n2"))
        .distinct()
    )
    return cand.select(
        "n1", "n2", F.levenshtein("n1", "n2").alias("dist")
    ).filter(F.col("dist") <= max_dist)


# -- prefix-filtered set-similarity join (PPJoin-style) -----------------------


@scoped
def prefix_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, tau: float = 0.7
) -> DataFrame:
    """Set-similarity self-join with PREFIX FILTERING (the PPJoin family,
    Xiao et al. 2008): a pair can reach Jaccard ≥ τ only if the two
    token sets share a token among each side's (|s| - ⌈τ·|s|⌉ + 1)
    RAREST tokens.  Blocking on that prefix instead of all tokens is
    the 100 TB answer to stop-token buckets: 'the' is never a prefix
    token for any reasonable τ, so the hottest inverted-index lists
    simply drop out of candidate generation (where plain token blocking
    — `fuzzy_name_pairs` — or shingle inverting needs an explicit
    frequency cap).

    Plan: global token document-frequencies → per-doc rarity ranking
    (one doc_id window) → prefix-token equi-join for candidates →
    exact Jaccard verification via one shared-token groupBy.  The
    document-frequency lookup is a PLAIN equi-join on the token: the
    vocabulary grows with the corpus (Heaps' law — billions of terms
    at 100 TB), so it must never carry a broadcast hint; AQE still
    broadcasts it at demo scale on its own.  Verification is
    candidate-bounded; the prefix guarantees no true pair is lost
    (sound, not heuristic)."""
    toks = pin(
        df.select(F.col(id_col).alias("id"), F.explode_outer(F.array_distinct(ws_tokens(text_col))).alias("w"))
        .distinct()
    )
    sizes = toks.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    dfreq = toks.groupBy("w").agg(F.count(F.lit(1)).alias("dfw"))
    ranked = (
        toks.join(dfreq, "w")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("id").orderBy("dfw", "w")
            ),
        )
        .join(sizes, "id")
    )
    prefix = ranked.filter(
        F.col("rk") <= F.col("sz") - F.ceil(F.lit(tau) * F.col("sz")) + 1
    ).select("id", "w")
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "w")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .distinct()
    )
    inter = (
        cand.join(toks.select(F.col("id").alias("id1"), "w"), "id1")
        .join(toks.select(F.col("id").alias("id2"), F.col("w").alias("w2")), "id2")
        .filter(F.col("w") == F.col("w2"))
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sz1 = sizes.select(F.col("id").alias("id1"), F.col("sz").alias("sz1"))
    sz2 = sizes.select(F.col("id").alias("id2"), F.col("sz").alias("sz2"))
    jac = F.col("inter") / (F.col("sz1") + F.col("sz2") - F.col("inter"))
    return (
        inter.join(sz1, "id1")
        .join(sz2, "id2")
        .select("id1", "id2", F.round(jac, 6).alias("jaccard"))
        .filter(F.round(jac, 6) >= tau)
    )


# -- sorted-neighborhood blocking ---------------------------------------------

_SN_KEY_LEN = 24  # canonical sort-key prefix length
_SN_BLOCK_LEN = 4  # coarse block = first chars of the key
_SN_WINDOW = 2  # neighbors paired with each record (w-1 of classic SN w=3)


@scoped
def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 4,
    min_jaccard: float = 0.2,
) -> DataFrame:
    """Sorted-neighborhood near-dup pairs: canonical sort key → order →
    pair each record with its next `_SN_WINDOW` neighbors → exact
    shingle-Jaccard verification.

    The classic single-machine method sorts the whole dataset and slides
    one window; the distributed adaptation BLOCKS on a coarse key prefix
    and runs the neighbor window inside each block, which is exactly how
    SN is sharded in practice: candidate generation is a per-block
    window function (no global sort, no single-partition window), at the
    documented cost of missing pairs that straddle a block boundary —
    the standard SN recall trade, bounded by (window size / block size).
    Complement to LSH banding (dedup_minhash_*): SN catches near-dups
    whose similarity is PREFIX-concentrated (mutated tails) with one
    cheap pass and zero hashing.

    Plan at 100 TB: the key/block derivation is codegen'd string algebra
    on the scan; the window shuffles once on the block key; candidate
    pairs are O(rows · window); verification joins the candidate list
    against the distinct-shingle inverted index twice (equi-joins on
    (id, shingle)) — never an all-pairs surface."""
    key = F.substring(
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " "),
        1,
        _SN_KEY_LEN,
    )
    keyed = df.select(
        F.col(id_col).alias("doc_id"),
        key.alias("sn_key"),
    ).withColumn("block", F.substring("sn_key", 1, _SN_BLOCK_LEN))
    w = Window.partitionBy("block").orderBy("sn_key", "doc_id")
    nbrs = keyed.select(
        "doc_id",
        *[
            F.lead("doc_id", i).over(w).alias(f"n{i}")
            for i in range(1, _SN_WINDOW + 1)
        ],
    )
    cand = (
        nbrs.select(
            "doc_id",
            F.explode(F.array(*[F.col(f"n{i}") for i in range(1, _SN_WINDOW + 1)])).alias(
                "nbr"
            ),
        )
        .filter(F.col("nbr").isNotNull())
        .select(
            F.least("doc_id", "nbr").alias("id1"),
            F.greatest("doc_id", "nbr").alias("id2"),
        )
        .distinct()
    )
    # the shingle posting table has THREE consumers (sizes + both
    # verify legs): materialize it once instead of re-running the
    # explode per consumer — at scale this is the standing inverted
    # index every near-dup verifier probes anyway.  fan_out: the
    # shingle explode is the row's hottest stage (r15 probe: 3.2 s on
    # ONE task, pinned by the single-file scan split) — scale-adaptive,
    # a no-op once the scan has a split per core
    from dask_obj_spark.sources.tables import fan_out

    sh = pin(
        fan_out(df).select(
            F.col(id_col).alias("doc_id"),
            F.explode(word_shingles(text_col, shingle_n)).alias("shingle"),
        )
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        cand.join(sh.alias("a"), F.col("id1") == F.col("a.doc_id"))
        .select("id1", "id2", F.col("a.shingle").alias("sh1"))
        .join(
            sh.alias("b"),
            (F.col("id2") == F.col("b.doc_id"))
            & (F.col("sh1") == F.col("b.shingle")),
        )
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("id1"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id2"), F.col("n_sh").alias("nb"))
    jac = F.round(
        F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")), 6
    )
    # sizes are PER-DOC (corpus-sized): plain equi-joins — AQE
    # broadcasts them at demo scale, shuffles at 100 TB (no forced hint)
    return (
        inter.join(sa, "id1")
        .join(sb, "id2")
        .select("id1", "id2", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= min_jaccard)
    )


# -- estimator-error evaluation -----------------------------------------------


def minhash_estimate_error(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 4,
    min_est_jaccard: float = 0.5,
) -> DataFrame:
    """Measured estimator error of the MinHash signature: for every LSH
    candidate pair, the signature-agreement estimate next to the EXACT
    shingle Jaccard and their absolute gap — the "measure, don't guess"
    evidence row for choosing the signature width (16 hashes →
    std ≈ sqrt(J(1-J)/16) ≈ 0.12 at J=0.5; the measured errors should
    sit inside that envelope).

    Plan: the candidate set comes from the banded equi-join
    (sub-quadratic, `minhash_candidate_pairs`); exact Jaccard touches
    only those pairs via two equi-joins against the distinct-shingle
    inverted index — the verification surface stays
    O(candidates · shingles/doc), never all-pairs."""
    pairs = minhash_candidate_pairs(
        df, id_col, text_col, num_hashes, bands, shingle_n, min_est_jaccard
    )
    sh = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(text_col, shingle_n)).alias("shingle"),
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        pairs.select("id1", "id2")
        .join(sh.alias("a"), F.col("id1") == F.col("a.doc_id"))
        .select("id1", "id2", F.col("a.shingle").alias("sh1"))
        .join(
            sh.alias("b"),
            (F.col("id2") == F.col("b.doc_id"))
            & (F.col("sh1") == F.col("b.shingle")),
        )
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("id1"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id2"), F.col("n_sh").alias("nb"))
    exact = F.round(
        F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")), 6
    )
    # per-doc sizes: plain joins (AQE decides; corpus-sized at 100 TB)
    return (
        pairs.join(inter, ["id1", "id2"], "left")
        .join(sa, "id1")
        .join(sb, "id2")
        .select(
            "id1",
            "id2",
            "est_jaccard",
            F.coalesce(exact, F.lit(0.0)).alias("exact_jaccard"),
            F.round(
                F.abs(F.col("est_jaccard") - F.coalesce(exact, F.lit(0.0))), 6
            ).alias("abs_err"),
        )
    )


@scoped
def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 4,
    threshold: float = 0.5,
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """ASYMMETRIC containment C(A→B) = |A∩B| / |A|: catches a document
    embedded inside a larger one (quote pages, aggregators, boilerplate
    wrappers) that symmetric Jaccard dilutes below threshold — the
    standard second screen next to `ngram_jaccard_pairs`.

    Same inverted-index join as Jaccard (sub-quadratic, hot-shingle
    capped); each unordered pair emits up to two directed rows (A→B and
    B→A) since containment is directional."""
    sh = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(text_col, shingle_n)).alias("shingle"),
    ).distinct()
    if max_shingle_freq is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df_"))
            .filter(F.col("df_") > max_shingle_freq)
            .select("shingle")
        )
        # hot set is bounded by total_shingles/threshold — linear in the
        # corpus, NOT constant-bounded, so no broadcast hint: AQE picks
        # broadcast at demo scale, shuffled anti-join at 100 TB
        sh = sh.join(hot, "shingle", "left_anti")
    sh = pin(sh)  # sizes + both join legs
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_from"), F.col("b.doc_id").alias("id_to")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_from"), F.col("n_sh").alias("na"))
    cont = F.round(F.col("n_common") / F.col("na"), 6)
    # per-doc sizes: plain join (AQE decides; corpus-sized at 100 TB)
    return (
        inter.join(sa, "id_from")
        .select("id_from", "id_to", cont.alias("containment"))
        .filter(F.col("containment") >= threshold)
    )
