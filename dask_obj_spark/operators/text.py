"""Text-analysis operators over the ``documents`` table (north-star Tier
E; absent in the reference — `/root/reference/src/dask_obj/core.py:3-10`
imports only dask/toolz/operator, no text code).

All operators are pure DataFrame expressions (split/filter/transform/
aggregate higher-order functions + groupBy) — no Python UDFs, so the hot
path stays inside whole-stage codegen and scales linearly with executors:

- **token counting**: whitespace tokens and a BPE-ish regex pre-tokenizer
  (letter runs / digit runs / single punctuation — the GPT-2-style split
  minus byte-level merges, which need a learned vocab).
- **quality scoring**: length, punctuation/alpha/stopword ratios, mean
  token length — the standard cheap pre-filters of LLM data pipelines.
- **language ID**: per-language stopword-profile hit counts → argmax
  (regexp_count per profile + array_max struct argmax — zero-shuffle,
  codegen). An n-gram heuristic, not a model: the point is the
  distributed shape (literal profiles in-plan, scoring at scan
  bandwidth).
- **tf-idf**: classic explode → per-(doc,term) tf → per-term df → join →
  score; top-k terms per doc via window.
- **winnowing fingerprints**: char k-gram rolling hashes, min per
  sliding window of w hashes (Schleimer et al. MOSS scheme) — the
  document-fingerprinting primitive for plagiarism/copy detection.

Scale notes: token explode multiplies rows by ~doc length — aggregate
immediately after (tf groupBy) so the shuffle carries (doc, term, n)
triples, never raw tokens; stopword/profile lookups are broadcast-map
lookups via `array_contains` on literal arrays; winnowing emits O(len/w)
fingerprints per doc. The only wide ops are groupBys on already-reduced
keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dask_obj_spark.functions.hashing import porthash, ws_tokens
from dask_obj_spark.pinning import pin, scoped

# Shared stopword profiles (tiny on purpose: they ride inside the plan as
# literal arrays — at 100 TB these become a broadcast dict, same plan shape).
LANG_PROFILES: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "mit", "von", "big", "merge"],
    "en": ["the", "and", "of", "to", "in", "is", "order", "table", "group"],
    "es": ["el", "la", "de", "que", "los", "por", "slow", "agg", "vector"],
    "fr": ["le", "la", "et", "les", "des", "une", "scan", "data", "small"],
    "zh": ["de", "shi", "zai", "le", "he", "you", "join", "customer", "row"],
}

STOPWORDS = ["the", "a", "of", "to", "and", "in", "is", "it", "for", "on"]

BPE_TOKEN_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def bpe_tokens(c: Column | str) -> Column:
    """BPE-style pre-tokenization: letter runs, digit runs, single
    punctuation marks (regexp_extract_all — one JVM pass)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.regexp_extract_all(c, F.lit(BPE_TOKEN_RE), 0)


def token_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    t = F.col(text_col)
    return df.select(
        id_col,
        F.size(ws_tokens(t)).alias("n_ws_tokens"),
        F.size(bpe_tokens(t)).alias("n_bpe_tokens"),
        F.length(t).alias("n_chars_exact"),
    )


def quality_scores(
    df: DataFrame,
    id_col: str,
    text_col: str,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Cheap quality signals; `quality` is a fixed linear combination so
    downstream filters are a single pushdown-able predicate.

    ``keep_cols`` passes extra columns through the projection so
    consumers that need (quality, facet) pairs get them in ONE corpus
    scan instead of re-joining on the id (a corpus-sized shuffle)."""
    t = F.col(text_col)
    toks = ws_tokens(t)
    n_tok = F.size(toks)
    stop_hits = F.size(F.filter(toks, lambda w: F.array_contains(F.array(*[F.lit(s) for s in STOPWORDS]), F.lower(w))))
    alpha = F.length(F.regexp_replace(t, "[^a-zA-Z]", ""))
    punct = F.length(F.regexp_replace(t, "[a-zA-Z0-9\\s]", ""))
    total = F.length(t)
    mean_tok = total / n_tok
    stop_ratio = stop_hits / n_tok
    alpha_ratio = alpha / total
    punct_ratio = punct / total
    quality = (
        F.lit(0.4) * alpha_ratio
        + F.lit(0.3) * stop_ratio
        + F.lit(0.3) * (F.lit(1.0) - F.least(punct_ratio * 5, F.lit(1.0)))
    )
    return df.select(
        id_col,
        *(keep_cols or []),
        n_tok.alias("n_tokens"),
        F.round(mean_tok, 6).alias("mean_token_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(quality, 6).alias("quality"),
    )


def _lang_pattern(markers: list[str]) -> str:
    return r"\b(" + "|".join(markers) + r")\b"


def language_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Predict language by stopword-profile hit count (argmax, ties →
    lexicographically first language).

    Scoring is `regexp_count` of a word-boundary alternation per
    language — whole-stage-codegen JVM regex over the raw string, no
    interpreted higher-order filter, no explode.  The argmax is
    `array_max` over (score, -rank, lang) structs (max score, then
    lowest-ranked = lexicographically first language), so the whole
    operator is a zero-shuffle narrow map — at 100 TB it runs at scan
    bandwidth.  Boundary semantics: a marker adjacent to punctuation
    counts as a hit (``\\b`` boundary), where the token-membership form
    would not; markers are pure word characters so the two agree on
    whitespace-tokenized text (verified corpus-wide in the A/B)."""
    lowered = F.lower(F.col(text_col))
    structs = [
        F.struct(
            F.regexp_count(lowered, F.lit(_lang_pattern(markers))).alias("score"),
            F.lit(-i).alias("nr"),
            F.lit(lang).alias("lang"),
        )
        for i, (lang, markers) in enumerate(sorted(LANG_PROFILES.items()))
    ]
    best = F.array_max(F.array(*structs))
    return df.select(
        id_col,
        best.getField("lang").alias("pred_lang"),
        best.getField("score").alias("score"),
    )


def tfidf_top_terms(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """Top-k terms per document by tf·idf (idf = ln(N/df), ties → term
    asc). Tokens are reduced to (doc, term, tf) immediately after the
    explode, so the shuffle never carries raw token streams."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.transform(ws_tokens(text_col), lambda w: F.lower(w))).alias("term"),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = df.count()  # scalar, folded into the plan as a literal
    doc_freq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_"))
    scored = tf.join(doc_freq, "term").select(
        "doc_id",
        "term",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df_")), 6).alias(
            "tfidf"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tfidf", "rank")
    )


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, kgram: int = 8, window: int = 4
) -> DataFrame:
    """Winnowing document fingerprints: hash every char k-gram, keep the
    min hash of each sliding window of `window` consecutive hashes,
    dedupe. Guarantees any shared substring ≥ kgram+window-1 chars
    produces a shared fingerprint.

    Shape: explode k-grams to rows (cheap string lambda), hash at row
    level (codegen'd), then a sliding `min` window over gram position.
    The original all-array form (`array_min(slice(hashes, i, w))` inside
    `F.transform`) is O(n*w) interpreted-mode allocations per doc —
    measured ~30x slower at sf0.1. The window shuffle on doc_id also
    provides the compute parallelism regardless of input file layout."""
    t = F.col(text_col)
    n_grams = F.greatest(F.length(t) - kgram + 1, F.lit(1))
    grams = F.transform(
        F.sequence(F.lit(1), n_grams), lambda i: F.substring(t, i, kgram)
    )
    # one TINY shuffle of the raw doc rows by id up front: the hash
    # partitioning survives explode/project, so gram explode + hashing
    # parallelize across all cores, and the window's required
    # distribution on doc_id is already satisfied (sort only, no second
    # exchange). Explicit count: compute-bound stage, AQE's size-based
    # coalescing must not shrink it.
    ncores = df.sparkSession.sparkContext.defaultParallelism
    exploded = df.repartition(ncores, F.col(id_col)).select(
        F.col(id_col).alias("doc_id"),
        n_grams.alias("n_grams"),
        F.posexplode(grams).alias("pos", "gram"),
    )
    hashed = exploded.select(
        "doc_id", "n_grams", "pos", porthash(F.col("gram"), "fp").alias("h")
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, window - 1)
    # only full windows start at pos ≤ n_grams - window (0-based); short
    # docs (n_grams < window) keep their single partial window at pos 0
    return (
        hashed.withColumn("fp", F.min("h").over(w))
        .filter(F.col("pos") <= F.greatest(F.col("n_grams") - window, F.lit(0)))
        .select("doc_id", "fp")
        .distinct()
    )


def facets(df: DataFrame, dims: list[str], measure: str) -> DataFrame:
    """Faceted counts + mean measure over the given dimensions."""
    return df.groupBy(*dims).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(measure), 6).alias(f"avg_{measure}"),
    )


def repetition_ratio(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style repetition signal: fraction of all word bigrams taken
    by the single most frequent bigram (high → boilerplate/spam). One
    explode reduced immediately to (doc, bigram) counts; max/sum per doc."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(ws_tokens(text_col)).alias("pos", "w"),
    )
    # consecutive-token pairing as a window lead: ONE shuffle on doc_id
    # (no token self-join), which the bigram groupBy then reuses
    w_next = F.lead("w").over(Window.partitionBy("doc_id").orderBy("pos"))
    pairs = (
        toks.withColumn("w2", w_next)
        .filter(F.col("w2").isNotNull())
        .select("doc_id", F.concat_ws(" ", "w", "w2").alias("bigram"))
    )
    counts = pairs.groupBy("doc_id", "bigram").agg(F.count(F.lit(1)).alias("c"))
    return counts.groupBy("doc_id").agg(
        F.round(F.max("c") / F.sum("c"), 6).alias("top_bigram_ratio"),
        F.sum("c").alias("n_bigrams"),
    )


def scrub_text(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Pipeline scrubbing: redact email-like tokens and digit runs, count
    the redactions (the shape of a PII pass; production swaps in its own
    pattern set). Pure regexp_replace — one projection."""
    t = F.col(text_col)
    email_re = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    digits_re = "[0-9]{3,}"
    after_email = F.regexp_replace(t, email_re, "<EMAIL>")
    scrubbed = F.regexp_replace(after_email, digits_re, "<NUM>")
    n_email = F.size(F.regexp_extract_all(t, F.lit(email_re), 0))
    n_num = F.size(F.regexp_extract_all(after_email, F.lit(digits_re), 0))
    return df.select(
        F.col(id_col).alias("doc_id"),
        scrubbed.alias("scrubbed"),
        n_email.alias("n_emails"),
        n_num.alias("n_numbers"),
    )


# -- cross-document boilerplate removal ---------------------------------------


def remove_boilerplate_segments(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_words: int = 10,
    max_df: int = 1,
) -> DataFrame:
    """C4/CCNet-style boilerplate scrub: split each document into fixed
    ``seg_words``-word segments, drop every segment whose exact content
    occurs in more than ``max_df`` DISTINCT documents (navigation chrome,
    license footers, templated headers), and rebuild the surviving text
    in original order.  Returns (doc_id, clean_text); a fully-boilerplate
    document comes back as ''.

    Shape: posexplode segments → distinct (doc, segment) → algebraic
    groupBy(count) for document frequency → anti-join of the hot set →
    order-safe rebuild (array_sort of (pos, seg) structs, then join —
    collect_list order is never trusted).  At 100 TB the hot-set join
    keys on a segment HASH (8-byte shuffle instead of strings); the hot
    set is the head of a Zipf curve but its SIZE is occurrences/max_df —
    linear in the corpus — so it carries no broadcast hint (AQE
    broadcasts at demo scale, shuffles the anti-join beyond); the
    string form here keeps the DuckDB oracle replayable verbatim."""
    words = ws_tokens(text_col)
    nseg = F.floor((F.size(words) - 1) / seg_words) + 1
    segs = F.transform(
        F.sequence(F.lit(0), nseg - 1),
        lambda i: F.array_join(F.slice(words, i * seg_words + 1, seg_words), " "),
    )
    exploded = df.select(
        F.col(id_col).alias("doc_id"), F.posexplode(segs).alias("pos", "seg")
    )
    hot = (
        exploded.select("doc_id", "seg")
        .distinct()
        .groupBy("seg")
        .agg(F.count(F.lit(1)).alias("df_"))
        .filter(F.col("df_") > max_df)
        .select("seg")
    )
    # hot set grows with the corpus (occurrences/max_df) — no broadcast
    # hint; AQE decides (broadcast at demo scale, shuffle at 100 TB)
    kept = exploded.join(hot, "seg", "left_anti")
    rebuilt = (
        kept.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "seg"))).alias("ps"))
        .select(
            "doc_id",
            F.array_join(F.col("ps.seg"), " ").alias("clean_text"),
        )
    )
    ids = df.select(F.col(id_col).alias("doc_id"))
    return ids.join(rebuilt, "doc_id", "left").select(
        "doc_id", F.coalesce("clean_text", F.lit("")).alias("clean_text")
    )


# -- PMI collocations (tokenizer/vocab prep) ----------------------------------


@scoped
def pmi_bigrams(
    df: DataFrame, id_col: str, text_col: str, min_count: int = 5
) -> DataFrame:
    """Corpus-level PMI-scored bigram collocations (the classic
    collocation-mining signal; tokenizer/vocab prep for merges worth a
    single token).  pmi = ln(p(xy) / (p(x)·p(y))).

    Shape: ONE token explode shuffled on doc_id feeds both the bigram
    pairing (window lead — no token self-join) and the unigram counts;
    bigram/unigram count tables reduce to vocabulary size — which still
    grows with the corpus (Heaps' law), so the two unigram lookup joins
    are PLAIN equi-joins (AQE broadcasts them at demo scale; no hint)
    and only the 1-row totals ride along as broadcast literals.  The
    shuffles carry (term, count) pairs — never raw token streams —
    which is what survives a 100 TB corpus.
    Probabilities are composed as double divisions (not integer cross
    products), so the arithmetic cannot overflow however large the
    corpus gets."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(ws_tokens(text_col)).alias("pos", "w"),
    )
    w_next = F.lead("w").over(Window.partitionBy("doc_id").orderBy("pos"))
    pairs = (
        toks.withColumn("w2", w_next)
        .filter(F.col("w2").isNotNull())
        .select(F.col("w").alias("w1"), "w2")
    )
    # count tables reduce to vocabulary size — checkpoint them so the
    # token explode runs ONCE per table (plan audit: 5 scans → 2; the
    # totals and both lookup joins reuse the materialized counts)
    big = pin(
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("nxy"))
    )
    uni = pin(
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_uni"))
    )
    b_total = big.agg(F.sum("nxy").alias("b_total"))
    t_total = uni.agg(F.sum("n_uni").alias("t_total"))
    j = (
        big.filter(F.col("nxy") >= min_count)
        # unigram counts are vocabulary-sized (Heaps' law: unbounded at
        # 100 TB) — plain equi-joins, never a broadcast hint; AQE still
        # broadcasts at demo scale on its own
        .join(uni.select(F.col("w").alias("w1"), F.col("n_uni").alias("nx")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("n_uni").alias("ny")), "w2")
        .crossJoin(F.broadcast(b_total))
        .crossJoin(F.broadcast(t_total))
    )
    pmi = F.round(
        F.log(
            (F.col("nxy") / F.col("b_total"))
            / ((F.col("nx") / F.col("t_total")) * (F.col("ny") / F.col("t_total")))
        ),
        6,
    )
    return j.select("w1", "w2", "nxy", pmi.alias("pmi"))


# -- C4-style span-level exact dedup ------------------------------------------


def span_dedup(
    df: DataFrame, id_col: str, text_col: str, span: int = 8
) -> DataFrame:
    """Cross-document span-level exact dedup (the C4/line-dedup move,
    over fixed token windows since this corpus has no line structure):
    split each doc into consecutive `span`-token chunks, keep only the
    FIRST occurrence of each chunk corpus-wide (first = lowest (doc_id,
    span_pos) — deterministic under any partitioning), and reassemble
    every doc from its surviving chunks.

    Scale shape: the chunk array is built per-row (narrow, codegen;
    ~len/span tiny slices), then ONE shuffle keyed on the chunk text
    ranks occurrences and ONE shuffle on doc_id reassembles.  At 100 TB
    the rank shuffle keys on xxhash64(chunk) (8-byte keys, not
    payloads) with the same plan; stop-chunk skew is bounded because a
    chunk is `span` whole tokens — far more selective than single
    tokens.  In-doc order is imposed by array_sort over (pos, text)
    structs, never collect order."""
    arr = ws_tokens(text_col)
    n_sp = F.ceil(F.size(arr) / F.lit(span)).cast("int")
    spans = F.transform(
        F.sequence(F.lit(0), n_sp - 1),
        lambda i: F.array_join(F.slice(arr, i * span + 1, span), " "),
    )
    ex = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(spans).alias("span_pos", "span_text"),
    )
    rn = F.row_number().over(
        Window.partitionBy("span_text").orderBy("doc_id", "span_pos")
    )
    flagged = ex.withColumn("keep", (rn == 1).cast("int"))
    kept_struct = F.when(F.col("keep") == 1, F.struct("span_pos", "span_text"))
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.count(kept_struct).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda s: s["span_text"]
            ),
        ).alias("clean_text"),
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 keyword retrieval: top-k documents for a bag-of-terms query.

    The retrieval primitive on the lexical side of a hybrid search stack
    (the embedding side is operators/similarity.py).  Corpus statistics
    (document frequency, average length) are computed IN the plan — no
    pre-built index object — which is exactly the batch-retrieval shape:
    score a fixed query list against a snapshot.

    Scale: the exploded token stream is filtered to the query's terms
    BEFORE the per-(doc, term) count, so the shuffle carries only
    matching postings (|docs containing any query term| · |terms|), not
    the corpus vocabulary; per-term df and the global avgdl are tiny
    aggregates broadcast back; the final top-k is TakeOrderedAndProject,
    never a full sort.  At 100 TB the standing form materializes the
    (term, doc, tf) postings table bucketed by term
    (operators/scale.py:write_bucketed) and this plan becomes a
    bucket-pruned probe of the query's terms only.

    Ranking determinism: scores are rounded to 6 dp and ordered by
    (rounded score desc, id) so the cross-engine oracle ranks
    identically (PLANS.md numerics note)."""
    t = F.col(text_col)
    dl = df.select(F.col(id_col), F.size(ws_tokens(t)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    toks = df.select(
        F.col(id_col), F.explode(ws_tokens(t)).alias("term")
    ).withColumn("term", F.lower(F.col("term")))
    posting = (
        toks.filter(F.col("term").isin(*[q.lower() for q in query_terms]))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = posting.groupBy("term").agg(F.count(F.lit(1)).alias("df_"))
    scored = (
        posting.join(F.broadcast(dfreq), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df_") + 0.5) / (F.col("df_") + 0.5)
            ),
        )
        .withColumn(
            "w",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))),
        )
        .groupBy(id_col)
        .agg(F.round(F.sum("w"), 6).alias("score"))
    )
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def bigram_lm_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document bigram language-model surprisal — the classic
    perplexity-style quality score (KenLM-shaped, trained on the corpus
    itself with add-one smoothing).  High mean surprisal = improbable
    word transitions = likely garbled/TOPIC-foreign text; the standard
    companion signal to the rule-based Gopher filters.

    Model: P(w2|w1) = (C(w1,w2) + 1) / (C(w1) + V), score = mean over a
    doc's bigrams of -ln P, ppl = exp(score).

    Scale: bigrams are sliced out of the token ARRAY per row (zero
    shuffle, no window); the model tables are two hash aggregates of the
    corpus; scoring re-joins the doc bigrams to the bigram table keyed
    on (w1, w2) — at 100 TB that join is the big exchange and is
    bucket-able; the 1-row V broadcasts, while the unigram table is
    vocabulary-sized (unbounded under Heaps' law) and joins PLAIN —
    AQE broadcasts it at demo scale without a hint."""
    toks = df.select(
        F.col(id_col),
        F.transform(ws_tokens(text_col), lambda w: F.lower(w)).alias("ws"),
    )
    bigrams = toks.select(
        F.col(id_col),
        F.explode(
            F.zip_with(
                F.slice(F.col("ws"), 1, F.greatest(F.size("ws") - 1, F.lit(0))),
                F.slice(F.col("ws"), 2, F.greatest(F.size("ws") - 1, F.lit(0))),
                lambda a, b_: F.struct(a.alias("w1"), b_.alias("w2")),
            )
        ).alias("bg"),
    ).select(F.col(id_col), F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    big_counts = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    uni_counts = bigrams.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = bigrams.select(
        F.explode(F.array("w1", "w2")).alias("w")
    ).agg(F.countDistinct("w").alias("v"))
    scored = (
        bigrams.join(big_counts, ["w1", "w2"])
        # vocabulary-sized side: plain equi-join (no broadcast hint)
        .join(uni_counts, "w1")
        .crossJoin(F.broadcast(vocab))
        .withColumn(
            "nlp", -F.log((F.col("c12") + 1.0) / (F.col("c1") + F.col("v")))
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("nlp"), 6).alias("mean_surprisal"),
        )
    )
    return scored


# -- n-gram language-model scoring (CCNet-style perplexity filter) ------------


@scoped
def ngram_lm_fit(
    df: DataFrame, text_col: str, top_k_bigrams: int | None = None
) -> tuple[DataFrame, DataFrame, int]:
    """Train the bigram count model behind `ngram_lm_score`: lowercase
    whitespace unigram and bigram counts plus the vocabulary size for
    add-one smoothing.  Returns (unigrams(w1, c1), bigrams(w1, w2, c2),
    v).

    At 100 TB the model tables are corpus-vocabulary-sized — NOT
    broadcast material: the scoring pass hash-joins the token-pair
    stream against them (bucket both by the leading token and the join
    is co-partitioned).  ``v`` is the one driver scalar — a single
    bounded aggregate, same discipline as heavy_hitters' n_total.
    ``top_k_bigrams`` prunes the bigram table to the K most frequent
    (ties by gram) — the production knob that bounds model size for a
    100 TB fit; a pruned-away bigram backs off to the same smoothing
    mass as a truly unseen one (c2=0 via the scoring left join), so
    pruning only ever LOWERS a document's score, monotonically in K
    (pinned in tests/test_text.py).  The unpruned fit is the exact
    form the oracle replays."""
    toks = df.select(
        F.posexplode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias(
            "pos", "w"
        )
    )
    uni = toks.groupBy(F.col("w").alias("w1")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c1")
    )
    big = (
        df.select(
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("t")
        )
        .select(
            F.posexplode(
                F.expr("transform(slice(t, 1, size(t) - 1), (x, i) -> struct(x AS w1, t[i + 1] AS w2))")
            ).alias("pos", "p")
        )
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c2"))
    )
    if top_k_bigrams is not None:
        # exact top-K by (c2 DESC, w1, w2) WITHOUT a global sort-limit
        # (TakeOrdered funnels K rows through the driver; production K
        # bounds a 100 TB model, so K itself is large).  Instead:
        # count-histogram → Kth-value threshold (the histogram is
        # distinct-count-sized, so its single-partition window is the
        # dimension-sized exception), keep everything strictly above
        # the threshold, and fill the remainder from the boundary
        # count's bucket by the deterministic (w1, w2) tiebreak — the
        # same boundary-bucket pattern budget_select uses.  Result set
        # is identical to ORDER BY c2 DESC, w1, w2 LIMIT K.
        k = int(top_k_bigrams)
        # Materialize the corpus-scale bigram aggregate ONCE before the
        # threshold collect: the histogram collect plus the above/
        # boundary union below would otherwise re-run the full
        # explode+groupBy lineage up to 3x (r9 advice).  localCheckpoint
        # truncates lineage so both union branches read the cached
        # aggregate (distinct-bigram-sized, not corpus-sized).
        big = pin(big)
        hist = big.groupBy("c2").agg(F.count(F.lit(1)).alias("nb"))
        hist = hist.withColumn(
            "cum",
            F.sum("nb").over(
                Window.orderBy(F.desc("c2")).rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        )
        thr = (
            hist.filter(F.col("cum") >= k)
            .orderBy(F.desc("c2"))
            .limit(1)
            .collect()
        )
        if thr:  # else: fewer than K bigrams exist — keep all
            c_star = thr[0]["c2"]
            n_above = thr[0]["cum"] - thr[0]["nb"]
            above = big.filter(F.col("c2") > F.lit(c_star))
            boundary = (
                big.filter(F.col("c2") == F.lit(c_star))
                .withColumn(
                    "rn",
                    F.row_number().over(
                        Window.partitionBy("c2").orderBy("w1", "w2")
                    ),
                )
                .filter(F.col("rn") <= F.lit(k - n_above))
                .drop("rn")
            )
            big = above.unionByName(boundary)
    v = uni.count()
    return uni, big, v


def ngram_lm_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    uni: DataFrame,
    big: DataFrame,
    v: int,
) -> DataFrame:
    """Per-document add-one-smoothed bigram log-likelihood — the CCNet
    move: score every document under a reference n-gram LM and filter/
    bucket on the score (a paraphrased spam page and a clean page have
    similar lengths but very different likelihoods).

    Each token pair contributes ``ln((c2 + 1) / (c1 + V))``; the pair's
    double is FLOOR-QUANTIZED to integer micro-units BEFORE the
    per-document sum, so the aggregate is an order-free BIGINT sum (a
    float sum over an unordered group would fold engine partition
    order into the hash; the quantize-then-integer-sum trick is the
    same one the PQ/ADC family uses).  Unseen bigrams of seen words
    back off to the same smoothing mass automatically (c2=0 via left
    join); pairs whose LEADING word is unseen take c1=0 (pure 1/V) —
    every branch stays the identical expression on both engines.

    Scoring is two hash joins (pair stream × bigram counts × unigram
    counts) + one integer aggregate — joins on the gram keys the model
    tables are naturally partitioned by; no broadcast of model state.

    Returns (id, n_pairs, logp_x1m) — consumers divide/threshold
    downstream (no integer division here: Spark DIV truncates toward
    zero, DuckDB // floors, and log-likelihoods are negative).
    """
    pairs = (
        df.select(
            F.col(id_col).alias("sid"),
            F.split(F.lower(F.trim(F.col(text_col))), r"\s+").alias("t"),
        )
        .select(
            "sid",
            F.explode(
                F.expr("transform(slice(t, 1, size(t) - 1), (x, i) -> struct(x AS w1, t[i + 1] AS w2))")
            ).alias("p"),
        )
        .select("sid", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    scored = (
        pairs.join(big, ["w1", "w2"], "left")
        .join(uni, ["w1"], "left")
        .select(
            "sid",
            F.floor(
                F.log(
                    (F.coalesce(F.col("c2"), F.lit(0)) + F.lit(1).cast("double"))
                    / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(int(v)).cast("double"))
                )
                * F.lit(1000000.0)
            )
            .cast("bigint")
            .alias("lp_x1m"),
        )
    )
    return (
        scored.groupBy("sid")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("lp_x1m").cast("bigint").alias("logp_x1m"),
        )
        .select(F.col("sid").alias(id_col), "n_pairs", "logp_x1m")
    )


# -- hashed-feature linear classifier (fastText-style inference) --------------

CLS_BUCKETS = 4096  # hashing-trick feature space (2^12, fastText default-ish)
_CLS_MULT = 2654435761  # Knuth multiplicative constant
_CLS_MOD = 1000003  # prime > 1e6: residues spread over ~[0, 1e6)
_CLS_SHIFT = _CLS_MOD // 2  # center weights on 0 → micro-units in ±0.5


def hashed_classifier_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = CLS_BUCKETS,
    margin_u: int = 0,
) -> DataFrame:
    """Linear text-classifier INFERENCE over hashed bag-of-n-gram
    features — the quality/domain-classifier stage every large
    training-data pipeline runs (CCNet/GPT-3/LLaMA-style: score each
    page with a cheap linear model, keep/bucket by the margin;
    fastText architecture: Joulin et al., "Bag of Tricks for Efficient
    Text Classification", 2017).

    Features: unigrams + bigrams hashed into ``n_buckets`` buckets
    (the hashing trick — no vocabulary table at any scale).  The
    weight TABLE is a deterministic pseudo-random stub standing in for
    trained weights, computed INLINE from the bucket id as pure
    integer algebra (w_b = (b·2654435761) mod 1000003 − 501001, i.e.
    micro-units in ±0.5) — the same bounded-stand-in-model contract as
    the modular PQ codebooks: production swaps in a trained table
    (broadcast k-row join or inline literals), every other moving part
    identical.

    Numerics: the per-doc logit is an exact BIGINT sum of integer
    micro-unit weights (order-free under any partitioning — the
    floor-quantize rule), the mean logit is integer division, and the
    label is an integer comparison — nothing float anywhere, so the
    output hashes bit-exactly cross-engine.

    Scale shape at 100 TB: one corpus scan; the gram explode is a
    narrow flatMap fanned out by the compute-bound-stage rule; hashing
    and the weight lookup are row-level codegen'd expressions (the md5
    chain is JVM-side; no join — the model is compiled into the plan);
    one keyed groupBy with map-side partial sums.  No driver state,
    no UDF, nothing all-pairs."""
    from dask_obj_spark.functions.hashing import word_ngrams

    ncores = df.sparkSession.sparkContext.defaultParallelism
    base = df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("t")
    ).repartition(ncores, "doc_id")
    grams = base.select(
        "doc_id",
        F.explode(
            F.concat(word_ngrams(F.col("t"), 1), word_ngrams(F.col("t"), 2))
        ).alias("g"),
    )
    bucket = F.pmod(porthash(F.col("g"), "cls"), F.lit(n_buckets))
    w = (bucket * F.lit(_CLS_MULT)) % F.lit(_CLS_MOD) - F.lit(_CLS_SHIFT)
    scored = grams.select("doc_id", w.cast("long").alias("w"))
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams"),
        F.sum("w").cast("bigint").alias("logit_u"),
    ).select(
        "doc_id",
        "n_grams",
        "logit_u",
        F.expr("logit_u div n_grams").alias("mean_logit_u"),
        (F.expr("logit_u div n_grams") > F.lit(int(margin_u)))
        .cast("bigint")
        .alias("label"),
    )


# -- per-document word entropy (diversity/gibberish filter) --------------------


def word_entropy(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document Shannon entropy of the word distribution — the
    diversity filter that separates natural prose from keyword-stuffed
    or looping gibberish (low entropy = few distinct words dominate;
    boilerplate and SEO spam score far below real text of the same
    length).  H = ln(n) − (Σ_w c_w·ln(c_w)) / n over word counts c_w.

    Numerics: the Σ c·ln(c) term is per-(doc, word) floor-quantized to
    integer micro-units BEFORE the per-doc sum (the LM-score pattern —
    a float sum over an unordered group would fold partition order
    into the hash), and the final H assembles from the exact integer
    sum with ln(n) computed once per doc.  Output in integer
    micro-nats: entropy_x1m = floor(ln(n)·1e6) − (Σ floor(c·ln(c)·1e6))
    DIV n — every step replayable bit-exactly.

    Scale: one scan → token explode → (doc, word) count → per-doc sum;
    two keyed aggregates on the same doc partitioning."""
    ncores = df.sparkSession.sparkContext.defaultParallelism
    toks = (
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("t"))
        .repartition(ncores, "doc_id")
        .select(
            "doc_id",
            F.explode(
                F.filter(
                    F.split(F.lower(F.trim(F.coalesce(F.col("t"), F.lit("")))), r"\s+"),
                    lambda x: x != "",
                )
            ).alias("w"),
        )
    )
    wc = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    per_word = wc.select(
        "doc_id",
        "c",
        F.floor(F.col("c").cast("double") * F.log(F.col("c").cast("double")) * 1e6)
        .cast("bigint")
        .alias("clnc_u"),
    )
    agg = per_word.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.sum("clnc_u").cast("bigint").alias("sum_clnc_u"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        (
            F.floor(F.log(F.col("n_tokens").cast("double")) * 1e6).cast("bigint")
            - F.expr("sum_clnc_u div n_tokens")
        ).alias("entropy_x1m"),
    )


# -- filter-agreement audit (classifier × heuristic cross-tab) ----------------


def filter_agreement(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Agreement cross-tab between the two independent quality gates —
    the hashed-linear classifier's margin label and the heuristic
    quality-score decile — the audit a pipeline owner reads before
    trusting either filter alone: off-diagonal mass (classifier says
    keep, heuristics say junk, or vice versa) is exactly where manual
    review goes, and a drifting crawl moves mass across the diagonal
    before either gate's pass-rate alone shows it.

    Two corpus scans by necessity (the two scorers traverse different
    shapes: gram explode + keyed aggregate vs per-row HOF projection),
    joined on the id, aggregated onto ≤ 2×10 cells.  The join is
    doc-keyed and disappears into the classifier's existing doc_id
    partitioning; output is dimension-sized."""
    cls = hashed_classifier_score(df, id_col, text_col).select(
        F.col("doc_id"), F.col("label").alias("cls_keep")
    )
    q = quality_scores(df, id_col, text_col).select(
        F.col(id_col).alias("doc_id"),
        F.least(
            F.floor(F.col("quality") * F.lit(10.0)).cast("int"), F.lit(9)
        ).alias("q_decile"),
    )
    return (
        cls.join(q, "doc_id")
        .groupBy("cls_keep", "q_decile")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


# -- readability (Flesch-style, vowel-group syllable proxy) --------------------


def readability_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Flesch-reading-ease-style readability per document, with the
    standard vowel-group syllable proxy (a syllable ≈ one maximal
    [aeiouy]+ run — the classic approximation when no dictionary is
    available): score = 206.835 − 1.015·(words/sentences) −
    84.6·(syllables/words).  The grade-level filter a children's-book
    vs legalese mixture decision reads.

    All three counts are exact integers from one JVM regexp pass each
    (no UDF); the score itself is three IEEE ops on integer-valued
    doubles, floor-quantized to milli-units — deterministic
    cross-engine.  Sentence count is max(1, [.!?]+ runs); empty docs
    emit zero counts and the degenerate score of the constant term."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    words = F.size(F.filter(ws_tokens(t), lambda x: x != ""))
    sents = F.greatest(
        F.lit(1), F.size(F.regexp_extract_all(t, F.lit(r"[.!?]+"), 0))
    )
    sylls = F.size(F.regexp_extract_all(F.lower(t), F.lit("[aeiouy]+"), 0))
    wps = words.cast("double") / sents.cast("double")
    spw = sylls.cast("double") / F.greatest(words, F.lit(1)).cast("double")
    score = (
        F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        words.cast("bigint").alias("n_words"),
        sents.cast("bigint").alias("n_sentences"),
        sylls.cast("bigint").alias("n_syllables"),
        F.floor(score * F.lit(1000.0)).cast("bigint").alias("flesch_x1k"),
    )


# -- code-vs-prose detection (heuristic signals) -------------------------------


def code_detect(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Heuristic code-vs-prose detector — the routing signal a mixed
    crawl needs before sending documents to a code pipeline (different
    dedup granularity, different quality rules): counts of code-ish
    tokens (brace/bracket/semicolon/operator characters), indented
    lines, and camelCase/snake_case identifiers, folded into an
    integer code-likelihood in micro-units.  Pure JVM regexp algebra,
    one scan, no UDF — every count exact, the fold a fixed integer
    expression, so the score is engine-portable by construction."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    n_chars = F.greatest(F.length(t), F.lit(1))
    sym = F.length(t) - F.length(F.regexp_replace(t, r"[{}\[\]();=<>|&]", ""))
    idents = F.size(
        F.regexp_extract_all(
            t, F.lit(r"\b[a-z]+(?:_[a-z0-9]+|[A-Z][a-z0-9]+)\w*\b"), 0
        )
    )
    indented = F.size(F.regexp_extract_all(t, F.lit(r"(?m)^(?:    |\t)"), 0))
    words = F.greatest(
        F.size(F.filter(ws_tokens(t), lambda x: x != "")),
        F.lit(1),
    )
    score = (
        F.lit(600000) * sym.cast("bigint") / n_chars.cast("bigint")
        + F.lit(300000) * idents.cast("bigint") / words.cast("bigint")
        + F.lit(100000) * F.least(indented.cast("bigint"), F.lit(10)) / F.lit(10)
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        sym.cast("bigint").alias("n_sym"),
        idents.cast("bigint").alias("n_idents"),
        indented.cast("bigint").alias("n_indented"),
        F.floor(score).cast("bigint").alias("code_score_u"),
    )
