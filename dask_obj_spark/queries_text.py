"""Query registrations and DuckDB oracles for ``operators/text.py``."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from dask_obj_spark.functions.hashing import (
    duck_porthash,
    duck_word_shingles,
    duck_ws_tokens,
    porthash,
    word_shingles,
    ws_tokens,
)
from dask_obj_spark.operators.text import (
    BPE_TOKEN_RE,
    CLS_BUCKETS,
    LANG_PROFILES,
    STOPWORDS,
    _CLS_MOD,
    _CLS_MULT,
    _CLS_SHIFT,
    _lang_pattern,
    bigram_lm_scores,
    bm25_topk,
    code_detect,
    facets,
    filter_agreement,
    hashed_classifier_score,
    language_id,
    ngram_lm_fit,
    ngram_lm_score,
    pmi_bigrams,
    quality_scores,
    readability_scores,
    remove_boilerplate_segments,
    repetition_ratio,
    scrub_text,
    span_dedup,
    tfidf_top_terms,
    token_stats,
    winnow_fingerprints,
    word_entropy,
)
from dask_obj_spark.pinning import pin
from dask_obj_spark.queries import query
from dask_obj_spark.sources import load_table


def _duck_list_lit(xs: list[str]) -> str:
    return "[" + ", ".join(f"'{x}'" for x in xs) + "]"


@query(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id,
           len({duck_ws_tokens("text")}) AS n_ws_tokens,
           len(regexp_extract_all(text, '{BPE_TOKEN_RE}')) AS n_bpe_tokens,
           length(text) AS n_chars_exact
    FROM documents
    """,
)
def text_token_stats_q(spark, sf_dir):
    """Whitespace + BPE-ish token counts per document."""
    return token_stats(load_table(spark, sf_dir, "documents"), "doc_id", "text")


def duck_quality_select() -> str:
    """The quality_scores() computation as a standalone DuckDB SELECT —
    shared by the text_quality_scores oracle and downstream consumers
    (operators/corpus.py weighted sampling)."""
    return f"""
    WITH t AS (
      SELECT doc_id, text, {duck_ws_tokens("text")} AS toks,
             length(text) AS total,
             length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha,
             length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS punct,
             len(list_filter({duck_ws_tokens("text")},
                 w -> list_contains({_duck_list_lit(STOPWORDS)}, lower(w)))) AS stop_hits
      FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           round(total / len(toks), 6) AS mean_token_len,
           round(stop_hits / len(toks), 6) AS stopword_ratio,
           round(alpha / total, 6) AS alpha_ratio,
           round(punct / total, 6) AS punct_ratio,
           round(0.4 * (alpha / total) + 0.3 * (stop_hits / len(toks))
                 + 0.3 * (1.0 - least((punct / total) * 5, 1.0)), 6) AS quality
    FROM t
    """


@query("text_quality_scores", oracle=duck_quality_select())
def text_quality_scores_q(spark, sf_dir):
    """Per-doc quality signals (alpha/punct/stopword ratios + combo)."""
    return quality_scores(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "text_langid",
    oracle="""
    WITH scored AS (
    """
    + " UNION ALL ".join(
        f"""SELECT doc_id, '{lang}' AS lang,
               len(regexp_extract_all(lower(text), '{_lang_pattern(markers)}')) AS score
            FROM documents"""
        for lang, markers in sorted(LANG_PROFILES.items())
    )
    + """
    ), ranked AS (
      SELECT doc_id, lang, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, lang) AS rn
      FROM scored
    )
    SELECT doc_id, lang AS pred_lang, score FROM ranked WHERE rn = 1
    """,
)
def text_langid_q(spark, sf_dir):
    """Stopword-profile language ID (deterministic argmax)."""
    return language_id(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lower(unnest({duck_ws_tokens("text")})) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
    ), df_ AS (
      SELECT term, count(*) AS df_ FROM tf GROUP BY term
    ), n AS (
      SELECT count(*) AS n_docs FROM documents
    ), scored AS (
      SELECT doc_id, tf.term,
             round(tf * ln((SELECT n_docs FROM n) * 1.0 / df_), 6) AS tfidf
      FROM tf JOIN df_ ON tf.term = df_.term
    ), ranked AS (
      SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rank
      FROM scored
    )
    SELECT doc_id, term, tfidf, rank FROM ranked WHERE rank <= 3
    """,
)
def text_tfidf_top_terms_q(spark, sf_dir):
    """Top-3 tf-idf terms per document."""
    return tfidf_top_terms(load_table(spark, sf_dir, "documents"), "doc_id", "text", 3)


@query(
    "text_fingerprints",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id,
             list_transform(range(1, greatest(length(text) - 8 + 1, 1) + 1),
                            i -> {duck_porthash("substr(text, i, 8)", "fp")}) AS hashes
      FROM documents
    ), wins AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(hashes) - 4 + 1, 1) + 1),
               i -> list_min(hashes[i:i+3]))) AS mins
      FROM grams
    )
    SELECT DISTINCT doc_id, unnest(mins) AS fp FROM wins
    """,
)
def text_fingerprints_q(spark, sf_dir):
    """Winnowing fingerprints (char 8-grams, window 4) per document."""
    return winnow_fingerprints(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", 8, 4
    )


@query(
    "text_facets",
    oracle="""
    SELECT lang, source, count(*) AS n, round(avg(n_chars), 6) AS avg_n_chars
    FROM documents GROUP BY lang, source
    """,
)
def text_facets_q(spark, sf_dir):
    """Corpus facets: lang × source counts + mean length."""
    return facets(load_table(spark, sf_dir, "documents"), ["lang", "source"], "n_chars")


@query(
    "text_repetition_ratio",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             generate_subscripts({duck_ws_tokens("text")}, 1) AS pos,
             unnest({duck_ws_tokens("text")}) AS w
      FROM documents
    ), pairs AS (
      SELECT a.doc_id, a.w || ' ' || b.w AS bigram
      FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ), counts AS (
      SELECT doc_id, bigram, count(*) AS c FROM pairs GROUP BY doc_id, bigram
    )
    SELECT doc_id,
           round(max(c) / sum(c), 6) AS top_bigram_ratio,
           CAST(sum(c) AS BIGINT) AS n_bigrams
    FROM counts GROUP BY doc_id
    """,
)
def text_repetition_ratio_q(spark, sf_dir):
    """Repetition filter signal (most-frequent-bigram share per doc)."""
    return repetition_ratio(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "text_scrub",
    oracle="""
    WITH e AS (
      SELECT doc_id, text,
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                            '<EMAIL>', 'g') AS after_email
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(after_email, '[0-9]{3,}', '<NUM>', 'g') AS scrubbed,
           len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails,
           len(regexp_extract_all(after_email, '[0-9]{3,}')) AS n_numbers
    FROM e
    """,
)
def text_scrub_q(spark, sf_dir):
    """Redaction pass: emails + digit runs → placeholders, with counts."""
    return scrub_text(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@query(
    "pipeline_clean_corpus",
    oracle=f"""
    WITH q AS (
      SELECT doc_id, text,
             0.4 * (length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) / length(text))
             + 0.3 * (len(list_filter({duck_ws_tokens("text")},
                         w -> list_contains(['the','a','of','to','and','in','is','it','for','on'], lower(w))))
                      / len({duck_ws_tokens("text")}))
             + 0.3 * (1.0 - least((length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))
                                   / length(text)) * 5, 1.0)) AS quality
      FROM documents
    ), keepers AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ), scored AS (
    """
    + " UNION ALL ".join(
        f"""SELECT doc_id, '{lang}' AS lang,
               len(regexp_extract_all(lower(text), '{_lang_pattern(markers)}')) AS score
            FROM documents"""
        for lang, markers in sorted(LANG_PROFILES.items())
    )
    + """
    ), lang_pick AS (
      SELECT doc_id, lang AS pred_lang,
             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
      FROM scored
    )
    SELECT q.doc_id,
           lp.pred_lang,
           round(q.quality, 6) AS quality,
           md5(regexp_replace(q.text, '[0-9]{3,}', '<NUM>', 'g')) AS clean_hash
    FROM q
    JOIN keepers k ON q.doc_id = k.doc_id
    JOIN lang_pick lp ON q.doc_id = lp.doc_id AND lp.rn = 1
    WHERE q.quality >= 0.3
    """,
)
def pipeline_clean_corpus_q(spark, sf_dir):
    """Capstone: the composed LLM-data cleaning pipeline in ONE lazy plan
    — quality gate → exact-dedup keepers (anti-amplification: semi-join
    on the keeper set) → language tag → scrub → stable content hash.
    Catalyst fuses the narrow stages; the only shuffles are the dedup
    groupBy and the langid argmax."""
    # fan_out (r15): all four branches below are regex-heavy narrow
    # chains over the same scan — a single-file table pinned them to one
    # task each (probe: 5.7 s of single-task executor time); the
    # round-robin floor is scale-adaptive (no-op at production splits)
    # and row-preserving, so results and oracle hashes are unchanged
    from dask_obj_spark.sources.tables import fan_out

    docs = fan_out(load_table(spark, sf_dir, "documents"))
    quality = quality_scores(docs, "doc_id", "text").select("doc_id", "quality")
    keepers = (
        docs.groupBy(F.md5("text")).agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    )
    langs = language_id(docs, "doc_id", "text").select("doc_id", "pred_lang")
    scrubbed = docs.select(
        "doc_id",
        F.md5(F.regexp_replace(F.col("text"), "[0-9]{3,}", "<NUM>")).alias("clean_hash"),
    )
    return (
        quality.filter(F.col("quality") >= 0.3)
        .join(keepers, "doc_id", "left_semi")
        .join(langs, "doc_id")
        .join(scrubbed, "doc_id")
        .select("doc_id", "pred_lang", "quality", "clean_hash")
    )


@query(
    "text_boilerplate_scrub",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, {duck_ws_tokens("text")} AS ws FROM documents
    ), segs AS (
      SELECT doc_id,
             unnest(range(0, ((len(ws) - 1) // 10) + 1)) AS pos,
             ws
      FROM w
    ), seg_txt AS (
      SELECT doc_id, pos,
             array_to_string(ws[(pos * 10 + 1):(pos * 10 + 10)], ' ') AS seg
      FROM segs
    ), hot AS (
      SELECT seg FROM (SELECT DISTINCT doc_id, seg FROM seg_txt)
      GROUP BY seg HAVING count(*) > 1
    ), rebuilt AS (
      SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS clean_text
      FROM seg_txt WHERE seg NOT IN (SELECT seg FROM hot)
      GROUP BY doc_id
    )
    SELECT d.doc_id, coalesce(r.clean_text, '') AS clean_text
    FROM documents d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
    """,
)
def text_boilerplate_scrub_q(spark, sf_dir):
    """Cross-document repeated-segment (boilerplate) removal: 10-word
    segments occurring in ≥ 2 distinct documents are scrubbed."""
    docs = load_table(spark, sf_dir, "documents")
    return remove_boilerplate_segments(docs, "doc_id", "text", 10, 1)


@query(
    "profile_corpus_facets",
    oracle=f"""
    WITH t AS (
      SELECT source, lang,
             len({duck_ws_tokens("text")}) AS n_tokens,
             n_chars
      FROM documents
    )
    SELECT source, lang,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(avg(n_tokens), 4) AS avg_tokens,
           round(percentile_cont(0.5) WITHIN GROUP (ORDER BY n_tokens), 6)
             AS p50_tokens,
           round(percentile_cont(0.9) WITHIN GROUP (ORDER BY n_tokens), 6)
             AS p90_tokens,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM t
    GROUP BY source, lang
    """,
)
def profile_corpus_facets_q(spark, sf_dir):
    """Dataset-card profile: per (source, lang) facet — doc counts,
    token totals/averages/quantiles, char volume.  The first query any
    corpus owner runs; one partial+final agg over a 4-column projection
    (the shuffle carries |facets| rows, the percentile state is the only
    non-algebraic part)."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(ws_tokens("text"))
    return (
        docs.select("source", "lang", n_tokens.alias("n_tokens"), "n_chars")
        .groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
            F.round(F.percentile("n_tokens", F.lit(0.5)), 6).alias("p50_tokens"),
            F.round(F.percentile("n_tokens", F.lit(0.9)), 6).alias("p90_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@query(
    "text_gopher_filter",
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
             len({duck_ws_tokens("text")}) AS n_words,
             length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0
               / length(text) AS alpha_ratio,
             length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) * 1.0
               / length(text) AS symbol_ratio,
             length(text) * 1.0
               / len({duck_ws_tokens("text")}) AS mean_word_len
      FROM documents
    )
    SELECT doc_id,
           (n_words BETWEEN 15 AND 10000) AS len_ok,
           (mean_word_len BETWEEN 2 AND 5.8) AS word_len_ok,
           (alpha_ratio >= 0.81) AS alpha_ok,
           (symbol_ratio <= 0.1) AS symbol_ok,
           ((n_words BETWEEN 15 AND 10000) AND (mean_word_len BETWEEN 2 AND 5.8)
            AND alpha_ratio >= 0.81 AND symbol_ratio <= 0.1) AS keep
    FROM m
    """,
)
def text_gopher_filter_q(spark, sf_dir):
    """Gopher-style rule filter (Rae et al. 2021 §A1.1 pattern): word
    count bounds, mean word length bounds, alphabetic ratio, symbol
    ratio — each rule surfaced as its own boolean (audit column) plus
    the conjunctive keep flag.  One narrow projection over the scan;
    the audit booleans make per-rule rejection-rate reporting a single
    groupBy downstream."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    n_words = F.size(ws_tokens(t))
    alpha_ratio = F.length(F.regexp_replace(t, "[^a-zA-Z]", "")) / F.length(t)
    symbol_ratio = F.length(F.regexp_replace(t, "[a-zA-Z0-9\\s]", "")) / F.length(t)
    mean_word_len = F.length(t) / n_words
    len_ok = n_words.between(15, 10000)
    word_len_ok = mean_word_len.between(2, 5.8)
    alpha_ok = alpha_ratio >= 0.81
    symbol_ok = symbol_ratio <= 0.1
    return docs.select(
        "doc_id",
        len_ok.alias("len_ok"),
        word_len_ok.alias("word_len_ok"),
        alpha_ok.alias("alpha_ok"),
        symbol_ok.alias("symbol_ok"),
        (len_ok & word_len_ok & alpha_ok & symbol_ok).alias("keep"),
    )


@query(
    "text_pmi_bigrams",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             generate_subscripts({duck_ws_tokens("text")}, 1) AS pos,
             unnest({duck_ws_tokens("text")}) AS w
      FROM documents
    ), pairs AS (
      SELECT a.w AS w1, b.w AS w2
      FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ), big AS (
      SELECT w1, w2, count(*) AS nxy FROM pairs GROUP BY w1, w2
    ), uni AS (
      SELECT w, count(*) AS n_uni FROM toks GROUP BY w
    ), tot AS (
      SELECT (SELECT CAST(sum(nxy) AS DOUBLE) FROM big) AS b_total,
             (SELECT CAST(sum(n_uni) AS DOUBLE) FROM uni) AS t_total
    )
    SELECT big.w1, big.w2, big.nxy,
           round(ln((big.nxy / tot.b_total) /
                    ((ux.n_uni / tot.t_total) * (uy.n_uni / tot.t_total))), 6)
             AS pmi
    FROM big
    JOIN uni ux ON ux.w = big.w1
    JOIN uni uy ON uy.w = big.w2
    CROSS JOIN tot
    WHERE big.nxy >= 5
    """,
)
def text_pmi_bigrams_q(spark, sf_dir):
    """PMI bigram collocations over the corpus (min count 5)."""
    return pmi_bigrams(load_table(spark, sf_dir, "documents"), "doc_id", "text", 5)


@query(
    "text_span_dedup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             generate_subscripts({duck_ws_tokens("text")}, 1) AS pos,
             unnest({duck_ws_tokens("text")}) AS w
      FROM documents
    ), sp AS (
      SELECT doc_id, (pos - 1) // 8 AS span_pos,
             string_agg(w, ' ' ORDER BY pos) AS span_text
      FROM toks GROUP BY doc_id, (pos - 1) // 8
    ), ranked AS (
      SELECT doc_id, span_pos, span_text,
             row_number() OVER (PARTITION BY span_text
                                ORDER BY doc_id, span_pos) AS rn
      FROM sp
    )
    SELECT doc_id,
           count(*) AS n_spans,
           count(*) FILTER (WHERE rn = 1) AS n_kept,
           coalesce(string_agg(span_text, ' ' ORDER BY span_pos)
                      FILTER (WHERE rn = 1), '') AS clean_text
    FROM ranked GROUP BY doc_id
    """,
)
def text_span_dedup_q(spark, sf_dir):
    """Corpus-wide 8-token span exact dedup with doc reassembly."""
    return span_dedup(load_table(spark, sf_dir, "documents"), "doc_id", "text", 8)


@query(
    "text_zipf_fit",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({duck_ws_tokens("text")}) AS w FROM documents
    ), freq AS (
      SELECT w, count(*) AS f FROM toks GROUP BY w
    ), ranked AS (
      SELECT f, row_number() OVER (ORDER BY f DESC, w) AS r FROM freq
    )
    SELECT count(*) AS n_terms,
           round(regr_slope(ln(f), ln(r)), 6) AS zipf_slope,
           round(regr_intercept(ln(f), ln(r)), 6) AS zipf_intercept,
           round(regr_r2(ln(f), ln(r)), 6) AS zipf_r2
    FROM ranked
    """,
)
def text_zipf_fit_q(spark, sf_dir):
    """Zipf-law fit of the corpus frequency spectrum: ln(freq) regressed
    on ln(rank) with the regr_* aggregate family (slope ≈ -1 for
    natural language; deviation is a corpus-health signal — synthetic
    or template text bends the tail).  The rank window is global but
    VOCABULARY-sized (the token stream is already reduced to (term,
    count) pairs), so the sort is a broadcast-scale operation however
    big the corpus; the regression itself is one algebraic aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(ws_tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    ranked = freq.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("f"), "w"))
    )
    lnf, lnr = F.log("f"), F.log("r")
    return ranked.agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.round(F.regr_slope(lnf, lnr), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(lnf, lnr), 6).alias("zipf_intercept"),
        F.round(F.regr_r2(lnf, lnr), 6).alias("zipf_r2"),
    )


@query(
    "text_ngram_diversity",
    oracle=rf"""
    WITH grams AS (
      SELECT source, unnest(list_transform(range(greatest(len({duck_ws_tokens("text")}) - 3, 0) + 1), i -> array_to_string({duck_ws_tokens("text")}[i+1:i+3], ' '))) AS g
      FROM documents
    )
    SELECT source,
           count(*) AS total_ngrams,
           count(DISTINCT g) AS distinct_ngrams,
           round(count(DISTINCT g) / count(*), 6) AS diversity
    FROM grams GROUP BY source
    """,
)
def text_ngram_diversity_q(spark, sf_dir):
    """Per-source 3-gram diversity (distinct/total) — the standard
    degeneracy metric for generated or templated data (low diversity =
    repetitive corpus; the aggregate twin of the per-doc repetition
    ratio).  The explode reduces immediately into the per-source
    aggregate; exact distinct shuffles (source, gram) pairs — at
    100 TB swap count(DISTINCT) for approx_count_distinct with the
    same plan."""
    from dask_obj_spark.functions.hashing import word_ngrams

    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select("source", F.explode(word_ngrams("text", 3)).alias("g"))
    return grams.groupBy("source").agg(
        F.count(F.lit(1)).alias("total_ngrams"),
        F.countDistinct("g").alias("distinct_ngrams"),
        F.round(F.countDistinct("g") / F.count(F.lit(1)), 6).alias("diversity"),
    )


@query(
    "text_bm25_topk",
    oracle=f"""
    WITH dl AS (
      SELECT doc_id, len({duck_ws_tokens("text")}) AS dl
      FROM documents
    ), stats AS (
      SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl
    ), toks AS (
      SELECT doc_id, lower(unnest({duck_ws_tokens("text")})) AS term
      FROM documents
    ), posting AS (
      SELECT doc_id, term, count(*) AS tf FROM toks
      WHERE term IN ('join', 'hash', 'scan')
      GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, count(*) AS df_ FROM posting GROUP BY term
    ), scored AS (
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
    )
    SELECT doc_id, score FROM scored
    ORDER BY score DESC, doc_id LIMIT 10
    """,
)
def text_bm25_topk_q(spark, sf_dir):
    """Top-10 BM25 hits for the query {join, hash, scan}."""
    return bm25_topk(
        load_table(spark, sf_dir, "documents"), "doc_id", "text",
        ["join", "hash", "scan"], k=10,
    )


@query(
    "text_bigram_perplexity",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_transform({duck_ws_tokens("text")},
                            w -> lower(w)) AS ws
      FROM documents
    ), bigrams AS (
      SELECT doc_id,
             unnest(ws[1:len(ws)-1]) AS w1,
             unnest(ws[2:len(ws)]) AS w2
      FROM toks
    ), big_counts AS (
      SELECT w1, w2, count(*) AS c12 FROM bigrams GROUP BY w1, w2
    ), uni_counts AS (
      SELECT w1, count(*) AS c1 FROM bigrams GROUP BY w1
    ), vocab AS (
      SELECT count(DISTINCT w) AS v FROM (
        SELECT w1 AS w FROM bigrams UNION ALL SELECT w2 FROM bigrams
      )
    )
    SELECT b.doc_id,
           count(*) AS n_bigrams,
           round(avg(-ln((bc.c12 + 1.0) / (uc.c1 + vocab.v))), 6)
             AS mean_surprisal
    FROM bigrams b
      JOIN big_counts bc ON b.w1 = bc.w1 AND b.w2 = bc.w2
      JOIN uni_counts uc ON b.w1 = uc.w1
      CROSS JOIN vocab
    GROUP BY b.doc_id
    """,
)
def text_bigram_perplexity_q(spark, sf_dir):
    """Corpus-trained bigram-LM mean surprisal per document."""
    return bigram_lm_scores(load_table(spark, sf_dir, "documents"), "doc_id", "text")


_PPL_T1 = 0.3333333333333333  # exact double literals, identical in the SQL below

_PPL_T2 = 0.6666666666666666


@query(
    "text_perplexity_buckets",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_transform({duck_ws_tokens("text")},
                            w -> lower(w)) AS ws
      FROM documents
    ), bigrams AS (
      SELECT doc_id,
             unnest(ws[1:len(ws)-1]) AS w1,
             unnest(ws[2:len(ws)]) AS w2
      FROM toks
    ), big_counts AS (
      SELECT w1, w2, count(*) AS c12 FROM bigrams GROUP BY w1, w2
    ), uni_counts AS (
      SELECT w1, count(*) AS c1 FROM bigrams GROUP BY w1
    ), vocab AS (
      SELECT count(DISTINCT w) AS v FROM (
        SELECT w1 AS w FROM bigrams UNION ALL SELECT w2 FROM bigrams
      )
    ), scored AS (
      SELECT b.doc_id,
             round(avg(-ln((bc.c12 + 1.0) / (uc.c1 + vocab.v))), 6) AS score
      FROM bigrams b
        JOIN big_counts bc ON b.w1 = bc.w1 AND b.w2 = bc.w2
        JOIN uni_counts uc ON b.w1 = uc.w1
        CROSS JOIN vocab
      GROUP BY b.doc_id
    ), th AS (
      SELECT quantile_cont(score, 0.3333333333333333) AS t1,
             quantile_cont(score, 0.6666666666666666) AS t2
      FROM scored
    )
    SELECT s.doc_id, s.score,
           CASE WHEN s.score <= th.t1 THEN 'head'
                WHEN s.score <= th.t2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM scored s CROSS JOIN th
    """,
)
def text_perplexity_buckets_q(spark, sf_dir):
    """CCNet-style quality bucketing: split the corpus into head /
    middle / tail thirds by language-model surprisal (head = best LM
    fit), the standard pre-training quality stratification that feeds
    per-bucket sampling rates.

    Thresholds are EXACT interpolated percentiles of the 6-dp-rounded
    per-doc score (Spark F.percentile and DuckDB quantile_cont compute
    the identical linear interpolation — verify SKILL.md); the
    two-value threshold row broadcasts onto the scored table.  Scale:
    all corpus-wide work is the bigram-LM scoring (operators/text.py
    `bigram_lm_scores`); exact global percentiles of a per-doc scalar
    are one single-row aggregate — at extreme cardinality swap in
    approx_percentile or the two-phase equidepth scan
    (profile_equidepth_histogram) with documented error."""
    docs = load_table(spark, sf_dir, "documents")
    scored = bigram_lm_scores(docs, "doc_id", "text").select(
        "doc_id", F.col("mean_surprisal").alias("score")
    )
    th = scored.agg(
        F.percentile("score", F.lit(_PPL_T1)).alias("t1"),
        F.percentile("score", F.lit(_PPL_T2)).alias("t2"),
    )
    return scored.crossJoin(F.broadcast(th)).select(
        "doc_id",
        "score",
        F.when(F.col("score") <= F.col("t1"), F.lit("head"))
        .when(F.col("score") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


CMS_DEPTH = 3  # independent hash rows

CMS_WIDTH = 1024  # counters per row


@query(
    "sketch_countmin_freq",
    oracle=f"""
    WITH toks AS (
      SELECT lower(unnest({duck_ws_tokens("text")})) AS tok
      FROM documents
    ), cms AS (
      SELECT j, idx, count(*) AS c FROM (
        """
    + "\n        UNION ALL\n        ".join(
        f"SELECT {j} AS j, ('0x' || substr(md5(tok || '#cm{j}'), 1, 15))::BIGINT"
        f" % 1024 AS idx FROM toks"
        for j in range(3)
    )
    + """
      ) GROUP BY j, idx
    ), exact AS (
      SELECT tok, count(*) AS exact_n FROM toks GROUP BY tok
    ), probes AS (
      SELECT tok, exact_n FROM (
        SELECT tok, exact_n,
               row_number() OVER (ORDER BY exact_n DESC, tok) AS rn
        FROM exact
      ) WHERE rn <= 20
    ), est AS (
      SELECT p.tok, p.exact_n,
             min(c.c) AS est_n
      FROM probes p
      JOIN cms c
        ON c.idx = ('0x' || substr(md5(p.tok || '#cm' || c.j), 1, 15))::BIGINT % 1024
      GROUP BY p.tok, p.exact_n
    )
    SELECT tok, CAST(exact_n AS BIGINT) AS exact_n,
           CAST(est_n AS BIGINT) AS est_n,
           CAST(est_n >= exact_n AS INT) AS never_undercounts
    FROM est
    """,
)
def sketch_countmin_freq_q(spark, sf_dir):
    """Count-Min sketch token frequencies: a 3 x 1024 counter table
    estimates any token's corpus frequency as min over rows of its
    hashed counter — compared here against exact counts for the top-20
    tokens, with the CMS one-sided guarantee (never undercounts)
    emitted per row.

    Why it matters at 100 TB: the sketch is FIXED-SIZE state (3·1024
    longs) and merge-by-addition — the incremental/streaming frequency
    primitive when the vocabulary itself no longer fits anywhere
    (per-shard sketches sum into the global one, same contract as
    incremental_agg_merge).  All hashes are the portable md5-derived
    `porthash`, so DuckDB replays the sketch bit-for-bit — estimate
    AND guarantee are oracle-checked, not asserted.

    Plan: one token explode feeds both the sketch build (3 codegen'd
    hash columns → 3072-row hash agg) and the exact counts; the
    estimate join touches 20 probe rows x 3 sketch rows."""
    from dask_obj_spark.functions.hashing import porthash

    docs = load_table(spark, sf_dir, "documents")
    toks = pin(
        docs.select(
            F.explode(ws_tokens("text")).alias("tok")
        ).withColumn("tok", F.lower(F.col("tok")))
    )
    cms = None
    for j in range(CMS_DEPTH):
        part = toks.select(
            F.lit(j).alias("j"),
            (porthash(F.col("tok"), f"cm{j}") % CMS_WIDTH).alias("idx"),
        )
        cms = part if cms is None else cms.union(part)
    cms = cms.groupBy("j", "idx").agg(F.count(F.lit(1)).alias("c"))
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_n"))
    # orderBy+limit → TakeOrderedAndProject: distributed per-partition
    # top-20 + tiny driver merge, never a single-partition window over
    # the (vocabulary-sized) exact-count table
    probes = exact.orderBy(F.desc("exact_n"), F.asc("tok")).limit(20)
    probe_pos = probes.select(
        "tok",
        "exact_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        (porthash(F.col("tok"), f"cm{j}") % CMS_WIDTH).alias("idx"),
                    )
                    for j in range(CMS_DEPTH)
                ]
            )
        ).alias("pos"),
    ).select("tok", "exact_n", "pos.j", "pos.idx")
    est = (
        probe_pos.join(F.broadcast(cms), ["j", "idx"])
        .groupBy("tok", "exact_n")
        .agg(F.min("c").alias("est_n"))
    )
    return est.select(
        "tok",
        F.col("exact_n").cast("bigint").alias("exact_n"),
        F.col("est_n").cast("bigint").alias("est_n"),
        (F.col("est_n") >= F.col("exact_n")).cast("int").alias("never_undercounts"),
    )


@query(
    "text_tfidf_cosine_pairs",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lower(unnest({duck_ws_tokens("text")})) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
    ), stats AS (
      SELECT count(DISTINCT doc_id) AS n_docs FROM toks
    ), df AS (
      SELECT term, count(*) AS df_ FROM tf GROUP BY term
    ), w AS (
      SELECT t.doc_id, t.term, t.tf * ln(s.n_docs * 1.0 / d.df_) AS w
      FROM tf t JOIN df d ON d.term = t.term CROSS JOIN stats s
      WHERE d.df_ <= greatest(50, s.n_docs // 10)
    ), norms AS (
      SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY doc_id
    ), dots AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, sum(a.w * b.w) AS dp
      FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT d.id1, d.id2,
           round(d.dp / (na.nrm * nb.nrm), 6) AS tfidf_cosine
    FROM dots d
      JOIN norms na ON na.doc_id = d.id1
      JOIN norms nb ON nb.doc_id = d.id2
    WHERE round(d.dp / (na.nrm * nb.nrm), 6) >= 0.3
    """,
)
def text_tfidf_cosine_pairs_q(spark, sf_dir):
    """Sparse lexical cosine: tf-idf weighted document similarity over
    the shared-term inverted index — the bag-of-words analog of
    embedding cosine (catches topical near-dups whose wording diverges
    too much for shingle Jaccard but whose term distributions align).

    Sub-quadratic by construction: the pair join runs term-by-term over
    the inverted index, and terms with document frequency above a
    CORPUS-PROPORTIONAL cap (10% of docs, floor 50) are dropped BEFORE
    the join (they carry ~zero idf weight AND generate the hottest
    buckets — the idf-weighted version of the stop-shingle cap).  The
    cap must scale with the corpus: document frequency grows linearly
    with doc count, so the r13-era ABSOLUTE cap (df <= 50) silently
    dropped every shared term at sf0.1 and the query returned 0 rows —
    the vacuous-parity guard added this round caught it, and a fixed
    cap at 100 TB would have filtered out the entire vocabulary.  At
    sf0.01 (500 docs) the proportional cap is exactly the old 50, so
    recorded hashes are unchanged.  Norms are per-doc aggregates
    broadcast onto the pair results.  At 100 TB the weighted postings
    table is the standing bucketed-by-term asset shared with BM25."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(ws_tokens("text")).alias("term")
    ).withColumn("term", F.lower(F.col("term")))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = toks.select("doc_id").distinct().count()
    df_cap = max(50, n_docs // 10)
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_"))
    # the rare-term df table is VOCABULARY-sized — no broadcast hint
    w = pin(  # norms + both pair legs
        tf.join(df.filter(F.col("df_") <= df_cap), "term")
        .select(
            "doc_id",
            "term",
            (F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df_"))).alias("w"),
        )
    )
    norms = w.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    a, b = w.alias("a"), w.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("id1"), F.col("b.doc_id").alias("id2"))
        .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("dp"))
    )
    na = norms.select(F.col("doc_id").alias("id1"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("id2"), F.col("nrm").alias("nb"))
    cos = F.round(F.col("dp") / (F.col("na") * F.col("nb")), 6)
    # norms are per-doc (corpus-sized): plain joins, AQE decides
    return (
        dots.join(na, "id1")
        .join(nb, "id2")
        .select("id1", "id2", cos.alias("tfidf_cosine"))
        .filter(F.col("tfidf_cosine") >= 0.3)
    )


@query(
    "text_ngram_novelty",
    oracle="""
    WITH sh AS (
      SELECT DISTINCT doc_id, unnest("""
    + duck_word_shingles("text", 3)
    + """) AS shingle
      FROM documents
    ), first_seen AS (
      SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle
    )
    SELECT s.doc_id,
           count(*) AS n_shingles,
           CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           round(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 6) AS novelty
    FROM sh s JOIN first_seen f ON f.shingle = s.shingle
    GROUP BY s.doc_id
    """,
)
def text_ngram_novelty_q(spark, sf_dir):
    """Per-document n-gram novelty: the fraction of a doc's distinct
    3-gram shingles whose FIRST occurrence (by doc id, the ingestion
    order) is the doc itself — the diminishing-returns curve of a
    growing corpus (novelty trending to zero means new data is
    re-treading old ground; the aggregate signal behind data-pruning
    and crawl-frontier decisions).

    Plan: first-occurrence is one min-aggregate over the shingle
    posting table; novelty is a join back on the shingle key + one
    per-doc aggregate — the same inverted-index shapes as the dedup
    family, no quadratic surface anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    # first_seen + the join-back leg
    sh = pin(docs.select("doc_id", F.explode(word_shingles("text", 3)).alias("shingle")))
    first_seen = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    novel = (F.col("first_doc") == F.col("doc_id")).cast("int")
    return (
        sh.join(first_seen, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(novel).cast("bigint").alias("n_novel"),
            F.round(F.sum(novel) / F.count(F.lit(1)), 6).alias("novelty"),
        )
    )


_HEAPS_BUCKET = 50  # docs per growth-curve bucket


@query(
    "text_vocab_growth_heaps",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lower(unnest({duck_ws_tokens("text")})) AS term
      FROM documents
    ), per_doc AS (
      SELECT doc_id, count(*) AS n_toks FROM toks GROUP BY doc_id
    ), first_seen AS (
      SELECT term, min(doc_id) AS first_doc FROM toks GROUP BY term
    ), tb AS (
      SELECT CAST(doc_id // {_HEAPS_BUCKET} AS BIGINT) AS bucket,
             sum(n_toks) AS toks
      FROM per_doc GROUP BY 1
    ), vb AS (
      SELECT CAST(first_doc // {_HEAPS_BUCKET} AS BIGINT) AS bucket,
             count(*) AS new_terms
      FROM first_seen GROUP BY 1
    ), curve AS (
      SELECT t.bucket,
             CAST(sum(t.toks) OVER w AS BIGINT) AS cum_tokens,
             CAST(sum(coalesce(v.new_terms, 0)) OVER w AS BIGINT) AS cum_vocab
      FROM tb t LEFT JOIN vb v ON v.bucket = t.bucket
      WINDOW w AS (ORDER BY t.bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), fit AS (
      SELECT round(
               (count(*) * sum(ln(cum_tokens) * ln(cum_vocab))
                 - sum(ln(cum_tokens)) * sum(ln(cum_vocab)))
               / (count(*) * sum(ln(cum_tokens) * ln(cum_tokens))
                 - sum(ln(cum_tokens)) * sum(ln(cum_tokens))), 6) + 0
               AS heaps_beta
      FROM curve
    )
    SELECT c.bucket, c.cum_tokens, c.cum_vocab, f.heaps_beta
    FROM curve c CROSS JOIN fit f
    """,
)
def text_vocab_growth_heaps_q(spark, sf_dir):
    """Vocabulary growth curve + Heaps'-law exponent: cumulative
    distinct terms vs cumulative tokens over ingestion-ordered buckets
    of documents, with the log-log regression slope (V ≈ K·nᵝ, β
    typically 0.4-0.8) — the companion to text_zipf_fit and
    text_ngram_novelty that forecasts how much NEW vocabulary more data
    will buy.

    Scale: no per-doc prefix scan — growth is computed at BUCKET
    granularity (first-occurrence per term is one min-aggregate; tokens
    and new-term counts roll up per bucket), so the only running-sum
    window is over |buckets| rows, and the regression is one aggregate
    over the same tiny curve."""
    docs = load_table(spark, sf_dir, "documents")
    toks = pin(
        docs.select(
            "doc_id", F.explode(ws_tokens("text")).alias("term")
        ).withColumn("term", F.lower(F.col("term")))
    )
    per_doc = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_toks"))
    first_seen = toks.groupBy("term").agg(F.min("doc_id").alias("first_doc"))
    tb = per_doc.groupBy(
        F.expr(f"CAST(doc_id DIV {_HEAPS_BUCKET} AS BIGINT)").alias("bucket")
    ).agg(F.sum("n_toks").alias("toks"))
    vb = first_seen.groupBy(
        F.expr(f"CAST(first_doc DIV {_HEAPS_BUCKET} AS BIGINT)").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("new_terms"))
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    curve = pin(  # curve feeds the fit AND the output
        tb.join(vb, "bucket", "left")
        .select(
            "bucket",
            F.sum("toks").over(w).cast("bigint").alias("cum_tokens"),
            F.sum(F.coalesce("new_terms", F.lit(0))).over(w).cast("bigint").alias(
                "cum_vocab"
            ),
        )
    )
    lx = F.log("cum_tokens")
    ly = F.log("cum_vocab")
    fit = curve.agg(
        (
            F.round(
                (F.count(F.lit(1)) * F.sum(lx * ly) - F.sum(lx) * F.sum(ly))
                / (F.count(F.lit(1)) * F.sum(lx * lx) - F.sum(lx) * F.sum(lx)),
                6,
            )
            + 0  # IEEE -0.0 guard (verify SKILL.md) on BOTH engines
        ).alias("heaps_beta")
    )
    return curve.crossJoin(F.broadcast(fit)).select(
        "bucket", "cum_tokens", "cum_vocab", "heaps_beta"
    )


def _ngram_lm_oracle() -> str:
    return f"""
    WITH d AS (
      SELECT doc_id, {duck_ws_tokens("lower(text)")} AS t FROM documents
    ),
    toks AS MATERIALIZED (
      SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS w FROM d
    ),
    uni AS MATERIALIZED (
      SELECT w AS w1, count(*)::BIGINT AS c1 FROM toks GROUP BY w
    ),
    pairs AS MATERIALIZED (
      SELECT doc_id, w AS w1,
             lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
      FROM toks
    ),
    p2 AS (SELECT doc_id, w1, w2 FROM pairs WHERE w2 IS NOT NULL),
    big AS MATERIALIZED (
      SELECT w1, w2, count(*)::BIGINT AS c2 FROM p2 GROUP BY w1, w2
    ),
    vv AS (SELECT count(*)::BIGINT AS v FROM uni),
    s AS (
      SELECT p2.doc_id,
             floor(ln((coalesce(big.c2, 0) + 1.0)
                      / (coalesce(uni.c1, 0) + (SELECT v FROM vv) * 1.0))
                   * 1000000.0)::BIGINT AS lp_x1m
      FROM p2
      LEFT JOIN big ON p2.w1 = big.w1 AND p2.w2 = big.w2
      LEFT JOIN uni ON p2.w1 = uni.w1
    )
    SELECT doc_id, count(*)::BIGINT AS n_pairs, sum(lp_x1m)::BIGINT AS logp_x1m
    FROM s GROUP BY doc_id
    """


@query("text_ngram_lm_score", oracle=_ngram_lm_oracle())
def text_ngram_lm_score_q(spark, sf_dir):
    """Bigram-LM log-likelihood per document (model = the corpus
    itself, add-one smoothing): the perplexity-filter primitive, with
    per-pair floor-quantized integer sums so the score is partition-
    order-free."""
    docs = load_table(spark, sf_dir, "documents")
    uni, big, v = ngram_lm_fit(docs, "text")
    return ngram_lm_score(docs, "doc_id", "text", uni, big, v)


def _hashed_classifier_oracle(
    n_buckets: int = CLS_BUCKETS, margin_u: int = 0
) -> str:
    from dask_obj_spark.functions.hashing import duck_word_ngrams

    return f"""
    WITH grams AS (
      SELECT doc_id,
             unnest(list_concat({duck_word_ngrams('text', 1)},
                                {duck_word_ngrams('text', 2)})) AS g
      FROM documents
    ), bw AS (
      SELECT doc_id,
             ({duck_porthash('g', 'cls')} % {n_buckets}) * {_CLS_MULT}
               % {_CLS_MOD} - {_CLS_SHIFT} AS w
      FROM grams
    ), agg AS (
      SELECT doc_id, count(*)::BIGINT AS n_grams, CAST(sum(w) AS BIGINT) AS logit_u
      FROM bw GROUP BY doc_id
    )
    SELECT doc_id, n_grams, logit_u,
           CAST(logit_u // n_grams AS BIGINT) AS mean_logit_u,
           CAST(CASE WHEN logit_u // n_grams > {margin_u} THEN 1 ELSE 0 END
                AS BIGINT) AS label
    FROM agg
    """


@query("text_hashed_classifier", oracle=_hashed_classifier_oracle())
def text_hashed_classifier_q(spark, sf_dir):
    """fastText-style hashed linear classifier inference over every
    document: exact integer logit over hashed unigram+bigram features,
    mean-logit margin label — the quality-classifier gate as one scan
    + one keyed aggregate, model compiled into the plan."""
    docs = load_table(spark, sf_dir, "documents")
    return hashed_classifier_score(docs, "doc_id", "text")


@query(
    "text_word_entropy",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(
               {duck_ws_tokens("lower(coalesce(text, ''))")},
               x -> x <> '')) AS w
      FROM documents
    ), wc AS (
      SELECT doc_id, w, count(*)::BIGINT AS c FROM toks GROUP BY doc_id, w
    ), pw AS (
      SELECT doc_id, c,
             floor(c::DOUBLE * ln(c::DOUBLE) * 1e6)::BIGINT AS clnc_u
      FROM wc
    ), agg AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
             count(*)::BIGINT AS n_distinct,
             CAST(sum(clnc_u) AS BIGINT) AS sum_clnc_u
      FROM pw GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_distinct,
           floor(ln(n_tokens::DOUBLE) * 1e6)::BIGINT
             - (sum_clnc_u // n_tokens) AS entropy_x1m
    FROM agg
    """,
)
def text_word_entropy_q(spark, sf_dir):
    """Word-distribution Shannon entropy per document in integer
    micro-nats — the diversity/gibberish filter, with the per-(doc,
    word) floor-quantize + exact integer sum making the score
    partition-order-free."""
    docs = load_table(spark, sf_dir, "documents")
    return word_entropy(docs, "doc_id", "text")


def _filter_agreement_oracle() -> str:
    cls = _hashed_classifier_oracle()
    return f"""
    WITH cls AS ({cls}),
    q AS ({duck_quality_select()})
    SELECT c.label AS cls_keep,
           least(floor(q.quality * 10.0)::INTEGER, 9) AS q_decile,
           count(*)::BIGINT AS n_docs
    FROM cls c JOIN q ON c.doc_id = q.doc_id
    GROUP BY 1, 2
    """


@query("eval_filter_agreement", oracle=_filter_agreement_oracle())
def eval_filter_agreement_q(spark, sf_dir):
    """Classifier-vs-heuristic agreement matrix: (margin label ×
    quality decile) doc counts — the filter-audit readout that
    localizes disagreement mass before either gate runs alone at
    100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    return filter_agreement(docs, "doc_id", "text")


@query(
    "text_readability",
    oracle=f"""
    WITH c AS (
      SELECT doc_id,
             len(list_filter({duck_ws_tokens("coalesce(text, '')")},
                             x -> x <> ''))::BIGINT AS n_words,
             greatest(1, len(regexp_extract_all(coalesce(text, ''),
                                                '[.!?]+')))::BIGINT AS n_sentences,
             len(regexp_extract_all(lower(coalesce(text, '')),
                                    '[aeiouy]+'))::BIGINT AS n_syllables
      FROM documents
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           floor((206.835
                  - 1.015 * (n_words::DOUBLE / n_sentences::DOUBLE)
                  - 84.6 * (n_syllables::DOUBLE
                            / greatest(n_words, 1)::DOUBLE)) * 1000.0)::BIGINT
             AS flesch_x1k
    FROM c
    """,
)
def text_readability_q(spark, sf_dir):
    """Flesch-style readability per document (vowel-group syllable
    proxy), floor-quantized to milli-units — exact integer counts,
    three IEEE ops, no UDF."""
    docs = load_table(spark, sf_dir, "documents")
    return readability_scores(docs, "doc_id", "text")


@query(
    "text_code_detect",
    oracle=rf"""
    WITH c AS (
      SELECT doc_id, coalesce(text, '') AS t FROM documents
    ), f AS (
      SELECT doc_id,
             (length(t) - length(regexp_replace(t, '[{{}}\[\]();=<>|&]', '', 'g')))::BIGINT AS n_sym,
             len(regexp_extract_all(t, '\b[a-z]+(?:_[a-z0-9]+|[A-Z][a-z0-9]+)\w*\b'))::BIGINT AS n_idents,
             len(regexp_extract_all(t, '(?m)^(?:    |\t)'))::BIGINT AS n_indented,
             greatest(length(t), 1)::BIGINT AS n_chars,
             greatest(len(list_filter({duck_ws_tokens("t")},
                                      x -> x <> '')), 1)::BIGINT AS n_words
      FROM c
    )
    SELECT doc_id, n_sym, n_idents, n_indented,
           floor(600000 * n_sym / n_chars::DOUBLE
                 + 300000 * n_idents / n_words::DOUBLE
                 + 100000 * least(n_indented, 10) / 10.0)::BIGINT AS code_score_u
    FROM f
    """,
)
def text_code_detect_q(spark, sf_dir):
    """Code-vs-prose routing signal per document: symbol density,
    identifier-shape hits, indented lines — integer counts folded to a
    micro-unit score, one regexp scan."""
    docs = load_table(spark, sf_dir, "documents")
    return code_detect(docs, "doc_id", "text")
