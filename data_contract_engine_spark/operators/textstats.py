"""Text analysis operators for training-data pipelines.

Language-ID (stopword heuristic), quality scoring (length / punctuation /
stopword ratios), token counting (whitespace + BPE-ish regex), and
document fingerprinting (polynomial rolling hash). All pure Column
expressions — vectorized, codegen-fused, no Python in the hot path; every
function returns a projection over the input (zero shuffles), so they
compose freely with dedup/validation scans.
"""

from __future__ import annotations

from typing import Dict, Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

# A whitespace token: a maximal run of non-whitespace (Java ``\s`` =
# space, \t, \n, \x0B, \f, \r). The tokenizer and the gram builder both
# derive from it, so token counts, grams and shingles always agree.
TOKEN_REGEX = r"\S+"

# BPE-ish pre-tokenizer: letter runs | digit runs | single non-space symbol
BPE_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Tiny per-language stopword vocabularies for the n-gram/stopword
# language-ID heuristic. Deliberately small + disjoint-ish.
STOPWORDS: Dict[str, Sequence[str]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it", "for", "with"),
    "es": ("el", "la", "de", "que", "y", "en", "los", "del", "se", "por"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "mit", "ein", "zu", "den"),
    "fr": ("le", "la", "les", "et", "des", "est", "une", "dans", "que", "pour"),
}


def ws_tokens(text: Column) -> Column:
    """Whitespace tokens; empty text → empty array (not ['']), null text
    → null. One compiled regex scan, no lambda."""
    return F.regexp_extract_all(text, F.lit(TOKEN_REGEX), F.lit(0))


def ws_token_count(text: Column) -> Column:
    return F.size(ws_tokens(text))


def bpe_token_count(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(BPE_REGEX), F.lit(0)))


def punct_count(text: Column) -> Column:
    return F.length(F.regexp_replace(text, r"[^.,;:!?'\"()\[\]-]", ""))


def stopword_count(text: Column, lang: str = "en") -> Column:
    words = STOPWORDS[lang]
    toks = F.transform(ws_tokens(text), lambda t: F.lower(t))
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def quality_score_col(text: Column) -> Column:
    """Composite C4/Gopher-style quality score in [0, 1], rounded to 2
    decimals — the single scoring expression shared by
    :func:`quality_features` and :mod:`curation`'s quality filter (so a
    curation threshold and the reported feature always agree)."""
    n_chars = F.length(text)
    n_words = ws_token_count(text)
    mean_word_len = F.when(
        n_words > 0, n_chars.cast("double") / n_words
    ).otherwise(F.lit(0.0))
    punct_ratio = F.when(
        n_chars > 0, punct_count(text).cast("double") / n_chars
    ).otherwise(F.lit(0.0))
    stop_ratio = F.when(
        n_words > 0, stopword_count(text).cast("double") / n_words
    ).otherwise(F.lit(0.0))
    len_ok = (n_chars >= 50) & (n_chars <= 100000)
    word_len_ok = (mean_word_len >= 2.0) & (mean_word_len <= 15.0)
    punct_ok = punct_ratio <= 0.2
    stop_ok = stop_ratio >= 0.01
    return F.round(
        len_ok.cast("double") * 0.4
        + word_len_ok.cast("double") * 0.2
        + punct_ok.cast("double") * 0.2
        + stop_ok.cast("double") * 0.2,
        2,
    )


def quality_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document quality features + a composite score in [0, 1].

    Heuristics (standard pretraining-filter shape, cf. C4/Gopher rules):
    penalize too-short / too-long docs, low mean word length, punctuation
    floods, and vanishing stopword ratio.
    """
    t = F.col(text_col)
    n_chars = F.length(t)
    n_words = ws_token_count(t)
    mean_word_len = F.when(n_words > 0, n_chars.cast("double") / n_words).otherwise(
        F.lit(0.0)
    )
    punct_ratio = F.when(
        n_chars > 0, punct_count(t).cast("double") / n_chars
    ).otherwise(F.lit(0.0))
    stop_ratio = F.when(
        n_words > 0, stopword_count(t).cast("double") / n_words
    ).otherwise(F.lit(0.0))

    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        F.round(mean_word_len, 4).alias("mean_word_len"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        quality_score_col(t).alias("quality_score"),
    )


def token_stats(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Corpus token accounting per group: whitespace and BPE-ish counts —
    one scan, one tiny groupBy shuffle."""
    t = F.col(text_col)
    return (
        df.select(
            F.col(group_col),
            ws_token_count(t).alias("__ws"),
            bpe_token_count(t).alias("__re"),
            F.length(t).alias("__ch"),
        )
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__ws").alias("ws_tokens"),
            F.sum("__re").alias("bpe_tokens"),
            F.sum("__ch").alias("chars"),
        )
    )


def lang_scores(text: Column) -> Dict[str, Column]:
    """Stopword-hit count per candidate language."""
    return {lang: stopword_count(text, lang) for lang in STOPWORDS}


def lang_id(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Predicted language = argmax stopword hits; 'und' (undetermined) when
    no stopwords hit at all. Deterministic tie-break = lexicographic lang
    order via greatest-struct trick."""
    scores = lang_scores(F.col(text_col))
    packed = [
        F.struct(
            c.alias("hits"),
            # invert lang for DESC tie-break inside greatest() (asc on lang)
            F.lit(lang).alias("lang"),
        )
        for lang, c in sorted(scores.items(), reverse=True)
    ]
    best = F.greatest(*packed) if len(packed) > 1 else packed[0]
    pred = F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))
    return df.select(
        F.col(id_col),
        pred.alias("pred_lang"),
        best["hits"].alias("stopword_hits"),
    )


# Distinctive character bigrams per language (hand-picked from public
# letter-frequency tables) — the n-gram half of the language-ID heuristic.
CHAR_BIGRAMS: Dict[str, Sequence[str]] = {
    "en": ("th", "he", "ng", "wh", "gh", "ck", "sh", "ould"),
    "es": ("ción", "ñ", "ll", "rr", "qué", "los", "ado", "ar "),
    "de": ("sch", "ch", "ei", "ü", "ö", "ä", "ung", "ich"),
    "fr": ("eau", "oux", "que", "est", "é", "è", "aux", "oi"),
}


def _occurrences(text: Column, needle: str) -> Column:
    """Vectorized substring-occurrence count via replace-length delta."""
    n = len(needle)
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / n
    ).cast("int")


def ngram_lang_scores(text: Column) -> Dict[str, Column]:
    """Character-n-gram hit counts per candidate language."""
    lowered = F.lower(text)
    out: Dict[str, Column] = {}
    for lang, grams in CHAR_BIGRAMS.items():
        score = None
        for g in grams:
            c = _occurrences(lowered, g)
            score = c if score is None else score + c
        out[lang] = score
    return out


def lang_id_ngram(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    stopword_weight: int = 3,
) -> DataFrame:
    """Language ID combining the two heuristics: stopword hits (word
    level, weighted) + character-n-gram hits. Same argmax/tie-break shape
    as :func:`lang_id`; 'und' when neither signal fires."""
    sw = lang_scores(F.col(text_col))
    ng = ngram_lang_scores(F.col(text_col))
    combined = {
        lang: sw[lang] * stopword_weight + ng[lang] for lang in STOPWORDS
    }
    packed = [
        F.struct(c.alias("hits"), F.lit(lang).alias("lang"))
        for lang, c in sorted(combined.items(), reverse=True)
    ]
    best = F.greatest(*packed)
    pred = F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))
    return df.select(
        F.col(id_col),
        pred.alias("pred_lang"),
        best["hits"].alias("score"),
    )


def word_grams(text: Column, k: int = 2) -> Column:
    """Overlapping k-word grams with multiplicity (repetition analysis
    needs duplicate grams; `dedup.word_shingles` wraps this in
    array_distinct for set semantics — ONE gram builder for both). Fewer
    than k words or null text → empty array, matching the SQL oracles'
    positional self-join, which likewise emits nothing for short docs.

    One compiled pass per document: separators collapse to single
    spaces, then a zero-width lookahead anchored at every token start
    captures that token and the k-1 after it. No HOF lambda: HOFs are
    interpreted, and one that captures the token array re-tokenizes the
    document once per gram."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    norm = F.regexp_replace(text, r"\s+", " ")
    # token start = string start or after a space. Not (?<!\S): Java
    # retries an empty match one UTF-16 unit later, and there a lookbehind
    # \S cannot match the split surrogate pair, so grams would also start
    # inside any non-BMP character (e.g. an emoji)
    gram = rf"(?:^|(?<= ))(?=({TOKEN_REGEX}(?: {TOKEN_REGEX}){{{k - 1}}}))"
    return F.coalesce(
        F.regexp_extract_all(norm, F.lit(gram), F.lit(1)),
        F.array().cast("array<string>"),
    )


def repetition_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 2,
) -> DataFrame:
    """Within-document repetition signals (Gopher-style repetition
    filters): for each doc, the fraction of k-word grams that occur more
    than once and the share of the single most frequent gram. High values
    flag boilerplate / degenerate generations.

    Shape at scale: one explode + per-(doc, gram) hash-agg + per-doc
    hash-agg — both map-side combined, shuffles carry only (id, gram) then
    id. Docs with fewer than k words produce no grams and are absent from
    the output (callers left-join if they need every doc).
    """
    grams = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_grams(F.col(text_col), k)).alias("g"),
    )
    per_gram = grams.groupBy("id", "g").agg(F.count(F.lit(1)).alias("c"))
    per_doc = per_gram.groupBy("id").agg(
        F.sum("c").alias("n_grams"),
        F.count(F.lit(1)).alias("distinct_grams"),
        F.max("c").alias("top_gram_count"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("__rep"),
    )
    return per_doc.select(
        F.col("id").alias(id_col),
        "n_grams",
        "distinct_grams",
        F.round(F.col("__rep") / F.col("n_grams"), 4).alias(
            "dup_gram_fraction"
        ),
        F.round(F.col("top_gram_count") / F.col("n_grams"), 4).alias(
            "top_gram_fraction"
        ),
    )


# PII redaction: order matters — specific patterns run before the general
# phone pattern so "123-45-6789" becomes <SSN>, not part of a phone match.
# Patterns restricted to syntax shared by Java regex (Spark) and RE2
# (DuckDB oracle): no lookaround, no backreferences.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\+?\b\d[\d .()-]{7,}\d\b", "<PHONE>"),
)


def redact_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, redacted text, per-category match counts) — a chained
    ``regexp_replace`` projection (codegen-fused, zero shuffles). Counts
    are measured per pattern on the ORIGINAL text; replacement is
    sequential in ``PII_PATTERNS`` order, so later patterns never re-match
    inside earlier placeholders."""
    t = F.col(text_col)
    red = t
    counts = []
    for name, pat, repl in PII_PATTERNS:
        counts.append(
            F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0))).alias(
                f"n_{name}"
            )
        )
        red = F.regexp_replace(red, pat, repl)
    return df.select(F.col(id_col), red.alias("text_redacted"), *counts)


def fingerprint(
    text: Column, mod: int = 1_000_000_007, base: int = 31
) -> Column:
    """Polynomial rolling hash over characters: h = (h*base + code) % mod.

    Values stay < mod·base + 2^21 « 2^63 so the fold never overflows in
    any engine; expressible in portable SQL (list_reduce) for the oracle.
    """
    # split into chars; Java split keeps a trailing '' with limit -1 — drop it
    chars = F.filter(F.split(text, "(?!^)"), lambda ch: ch != "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * base + F.ascii(ch)) % mod,
    )


def doc_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    return df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))


def tfidf_top_terms(
    df: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` terms per document by tf-idf (keyword extraction)::

        (id_col, term, tf, doc_freq, score, rank)

    score = tf · ln(N / doc_freq) with raw term frequency and the plain
    log idf (terms appearing in every document score 0). Ranking is
    deterministic (score desc, then term asc), so an external SQL oracle
    replays the exact top-k.

    Scale: (id, term) hash-agg → term-level doc-frequency hash-agg →
    shuffle join on the term (no broadcast of the vocabulary) → per-doc
    ranking window. All four stages are standard partitioned shuffles;
    per-task window state is one document's distinct terms.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    n_docs = df.select(id_col).distinct().count()
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(ws_tokens(F.col(text_col))).alias("term"),
    )
    tf = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    scored = tf.join(dfreq, "term").withColumn(
        "score",
        F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("doc_freq")),
    )
    w = Window.partitionBy("id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("id").alias(id_col),
            "term", "tf", "doc_freq", "score", "rank",
        )
    )


def chunk_documents(
    df: DataFrame,
    max_tokens: int,
    overlap: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document's whitespace-token stream into fixed-size
    windows — the "long doc → training-length chunks" stage of a
    pretraining pipeline. One row per chunk::

        (id_col, chunk_idx, n_tokens, chunk_text)

    Chunks start every ``max_tokens - overlap`` tokens, so consecutive
    chunks share ``overlap`` tokens; the last chunk may be short but is
    only emitted if it contributes at least one NEW token (a start
    within the previous chunk's overlap region would duplicate training
    text the pipeline's dedup stages exist to prevent); docs with zero
    tokens yield no chunks. Pure Column pipeline (tokenize → sequence of
    starts → posexplode → slice): zero shuffles, the explode fan-out is
    bounded by doc length / step, and the whole thing is deterministic
    so a SQL oracle replays chunk boundaries exactly."""
    if max_tokens <= 0:
        raise ValueError(f"max_tokens must be > 0, got {max_tokens}")
    if overlap < 0 or overlap >= max_tokens:
        raise ValueError(
            f"overlap must be in [0, max_tokens), got {overlap}"
        )
    step = max_tokens - overlap
    toks = ws_tokens(F.col(text_col))
    n = F.size(toks)
    # a chunk starting at s adds tokens (s + overlap, s + max]; it is
    # non-redundant iff s = 0 or s + overlap < n → bound n - overlap - 1
    starts = F.sequence(
        F.lit(0), F.greatest(n - F.lit(overlap) - 1, F.lit(0)), F.lit(step)
    )
    ex = df.select(
        F.col(id_col),
        toks.alias("__toks"),
        F.posexplode(starts).alias("chunk_idx", "__start"),
    )
    chunk = F.slice(F.col("__toks"), F.col("__start") + 1, max_tokens)
    return (
        ex.select(
            F.col(id_col),
            F.col("chunk_idx"),
            F.size(chunk).alias("n_tokens"),
            F.concat_ws(" ", chunk).alias("chunk_text"),
        )
        .filter(F.col("n_tokens") > 0)
    )
