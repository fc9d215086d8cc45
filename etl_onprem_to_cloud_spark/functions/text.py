"""Text-analysis column functions (Ring C, SURVEY.md section 2c).

All pure built-in expressions (split / higher-order array functions /
regexp / md5) -- no Python UDFs, so every one of these stays inside
WholeStageCodegen and scales linearly with executor count.  Designed for
the ``documents`` fixture table but schema-agnostic: each takes a text
Column and returns a Column.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Small deterministic stopword list (shared verbatim with the DuckDB
# oracle SQL in queries.py -- keep in sync).
STOPWORDS: list[str] = ["the", "a", "of", "and", "to", "in", "is", "it"]

# Language marker words for the n-gram/marker heuristic language ID.
LANGUAGE_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and"],
    "es": ["el", "la", "de", "que"],
    "de": ["der", "die", "das", "und"],
    "fr": ["le", "la", "et", "les"],
}

TOKEN_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def tokens(text: Column) -> Column:
    """Whitespace tokens with empties dropped (array<string>)."""
    return F.filter(F.split(text, " +"), lambda t: t != "")


def whitespace_token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("bigint")


def regex_token_count(text: Column) -> Column:
    """BPE-ish pre-tokenizer count: letter runs, digit runs, single
    punctuation marks (a standard byte-pair pre-tokenization shape)."""
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_REGEX), 0)).cast("bigint")


def stopword_ratio(text: Column) -> Column:
    toks = tokens(F.lower(text))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return F.when(F.size(toks) > 0, n_stop / F.size(toks)).otherwise(F.lit(0.0))


def punct_ratio(text: Column) -> Column:
    n_punct = F.length(F.regexp_replace(text, "[A-Za-z0-9 ]", ""))
    return F.when(F.length(text) > 0, n_punct / F.length(text)).otherwise(F.lit(0.0))


def avg_word_len(text: Column) -> Column:
    toks = tokens(text)
    total = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)
    )
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Deterministic [0,1] doc-quality heuristic: rewards mid-length
    docs with healthy stopword presence and low punctuation noise.
    (Mirrors the shape of public C4/Gopher-style quality filters.)"""
    length_component = F.least(F.length(text) / F.lit(500.0), F.lit(1.0))
    stop_component = F.least(stopword_ratio(text) * 5.0, F.lit(1.0))
    punct_penalty = F.greatest(F.lit(1.0) - punct_ratio(text) * 4.0, F.lit(0.0))
    return F.round(
        (length_component + stop_component + punct_penalty) / 3.0, 6
    ).cast("double")


def language_id(text: Column) -> Column:
    """Marker-word language ID: the language whose marker list hits the
    most lowercase tokens wins; ties and zero hits -> 'und'.  Tie-break
    is fixed language order (en, es, de, fr) for determinism."""
    toks = tokens(F.lower(text))
    result = F.lit("und")
    best = F.lit(0)

    # NB: the lambda must stay unary -- a second (default) parameter would
    # make pyspark treat it as the (element, index) form of F.filter.
    def score(markers: list[str]):
        return F.size(F.filter(toks, lambda t: t.isin(*markers)))

    scores = [(lang, score(markers)) for lang, markers in LANGUAGE_MARKERS.items()]
    for lang, score in reversed(scores):
        result = F.when(score >= best, F.lit(lang)).otherwise(result)
        best = F.greatest(score, best)
    return F.when(best > 0, result).otherwise(F.lit("und"))


def doc_fingerprint(text: Column) -> Column:
    """Deterministic 128-bit content fingerprint: md5 over the
    whitespace-normalized lowercase text.  Engine-portable (md5 is
    identical everywhere) -- the basis for exact dedup at scale."""
    normalized = F.concat_ws(" ", tokens(F.lower(text)))
    return F.md5(normalized.cast("binary"))


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles from an ALREADY-MATERIALIZED token column.

    Hot paths must pass a plain column reference, not the tokens()
    expression inline: higher-order lambdas are interpreted, and a
    captured non-trivial expression is re-evaluated per element --
    measured 3.4x slower at sf0.1.  Fixed-width element_at lookups
    (not F.slice, which copies O(len) per call) buy another 2.5x.
    """
    k = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    idx = F.sequence(F.lit(0), k - 1)
    return F.array_distinct(
        F.when(
            F.size(toks) >= n,
            F.transform(
                idx,
                lambda i: F.concat_ws(
                    " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
                ),
            ),
        ).otherwise(
            # Short docs: the whole doc is its one shingle.
            F.when(F.size(toks) > 0, F.array(F.concat_ws(" ", toks))).otherwise(
                F.array().cast("array<string>")
            )
        )
    )


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles (array<string>, distinct), the unit of
    near-dup Jaccard / MinHash.  Convenience inline form; hot paths
    should materialize tokens first and call shingles_from_tokens."""
    return shingles_from_tokens(tokens(F.lower(text)), n)


def word_ngrams_from_tokens(toks: Column, n: int = 2) -> Column:
    """All word n-grams WITH multiplicity (no dedup) from an
    ALREADY-MATERIALIZED token column -- the unit of repetition
    metrics (Gopher-style duplicate/top n-gram fractions), where the
    repeat count is the signal that array_distinct would erase.  Docs
    shorter than n yield [] (no n-gram exists; distinct from
    shingles_from_tokens, whose whole-doc fallback serves dedup
    recall).  Same element_at construction and same materialize-first
    caveat as shingles_from_tokens."""
    k = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    idx = F.sequence(F.lit(0), k - 1)
    return F.when(
        F.size(toks) >= n,
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def char_ngrams(text: Column, n: int = 5) -> Column:
    """Character n-grams of the normalized text (array<string>, distinct)."""
    normalized = F.concat_ws(" ", tokens(F.lower(text)))
    k = F.greatest(F.length(normalized) - (n - 1), F.lit(0))
    idx = F.sequence(F.lit(1), F.greatest(k, F.lit(1)))
    return F.array_distinct(
        F.when(
            F.length(normalized) >= n,
            F.transform(idx, lambda i: F.substring(normalized, i, n)),
        ).otherwise(F.array(normalized))
    )
