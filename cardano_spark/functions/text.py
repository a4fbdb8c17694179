"""Text-analysis column expressions for the training-data pipeline
(language-ID, quality scoring, token counting, shingling).

All JVM-side built-ins — no Python UDFs in any hot path. One rule
for every primitive that has a SQL-text form: ``*_sexpr`` is its Spark
definition, ``*_sql`` is the independent DuckDB oracle text, and the
Column function of the same name is ``F.expr`` over the former (one
expression costs 3 py4j round trips to build, whatever its size).

Determinism: token sets are ``array_distinct`` of a plain
whitespace split (identical semantics both engines); all ratios are
single IEEE divisions of exact integer counts; the quality-score
formula is a fixed-order chain of double ops, bit-identical across
engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: BPE-ish token pattern: letter runs, digit runs, or single
#: non-alphanumeric marks. Simple enough that Java regex (Spark) and
#: RE2 (DuckDB) agree exactly.
TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"

#: Tiny embedded stopword lists per language (deterministic,
#: self-contained — no external model files). Used by the n-gram
#: heuristic language scorer.
STOPWORDS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht", "mit", "von", "zu"],
    "en": ["the", "a", "and", "is", "of", "to", "in", "that", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "no", "con"],
    "fr": ["le", "la", "de", "et", "un", "est", "que", "pour", "dans", "ne"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不", "这", "人"],
}
LANGS = sorted(STOPWORDS)


def tokens_sexpr(expr: str) -> str:
    """Whitespace tokens (with multiplicity)."""
    return f"split({expr}, ' ')"


def tokens_sql(expr: str) -> str:
    return f"string_split({expr}, ' ')"


def tokens(expr: str) -> Column:
    return F.expr(tokens_sexpr(expr))


def distinct_tokens_sexpr(expr: str) -> str:
    """Unigram shingle set."""
    return f"array_distinct(split({expr}, ' '))"


def distinct_tokens_sql(expr: str) -> str:
    return f"list_distinct(string_split({expr}, ' '))"


def distinct_tokens(expr: str) -> Column:
    return F.expr(distinct_tokens_sexpr(expr))


def ngram_shingles(text: Column, n: int) -> Column:
    """Distinct word n-gram shingles. Empty array when the document
    has fewer than n tokens (guards Spark's descending-``sequence``
    behavior when stop < start)."""
    toks = F.split(text, " ")
    k = F.size(toks) - F.lit(n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), k),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.when(k >= 1, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def ngram_shingles_sql(expr: str, n: int) -> str:
    toks = f"string_split({expr}, ' ')"
    return (
        f"CASE WHEN len({toks}) >= {n} THEN list_distinct(list_transform("
        f"generate_series(1, len({toks}) - {n - 1}), "
        f"i -> array_to_string({toks}[i:i+{n - 1}], ' '))) "
        f"ELSE [] END"
    )


def word_ngrams(text: Column, n: int) -> Column:
    """Adjacent word n-grams WITH multiplicity (the LM-counting twin
    of :func:`ngram_shingles`, which deduplicates for set-similarity).
    Empty array when the document has fewer than n tokens (guards
    Spark's descending-``sequence`` behavior when stop < start)."""
    toks = F.split(text, " ")
    k = F.size(toks) - F.lit(n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), k),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.when(k >= 1, grams).otherwise(
        F.array().cast("array<string>")
    )


def word_ngrams_sql(expr: str, n: int) -> str:
    toks = f"string_split({expr}, ' ')"
    return (
        f"CASE WHEN len({toks}) >= {n} THEN list_transform("
        f"generate_series(1, len({toks}) - {n - 1}), "
        f"i -> array_to_string({toks}[i:i+{n - 1}], ' ')) "
        f"ELSE [] END"
    )


def stopword_hits_sexpr(toks_expr: str, lang: str) -> str:
    """How many tokens (with multiplicity) are stopwords of ``lang``."""
    lit = "array(" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + ")"
    return f"size(filter({toks_expr}, t -> array_contains({lit}, t)))"


def stopword_hits_sql(toks_expr: str, lang: str) -> str:
    lit = "[" + ", ".join(f"'{w}'" for w in STOPWORDS[lang]) + "]"
    return f"len(list_filter({toks_expr}, t -> list_contains({lit}, t)))"


def stopword_hits(toks_expr: str, lang: str) -> Column:
    return F.expr(stopword_hits_sexpr(toks_expr, lang))


def token_count_regex(text: Column) -> Column:
    """BPE-ish token count via :data:`TOKEN_RE`."""
    return F.size(F.regexp_extract_all(text, F.lit(TOKEN_RE), 0))


def token_count_regex_sql(expr: str) -> str:
    return f"len(regexp_extract_all({expr}, '{TOKEN_RE}'))"


def punct_count_sexpr(expr: str) -> str:
    """Characters outside [a-z0-9 ] — for the synthetic corpus these
    are punctuation plus non-Latin script."""
    return f"length(regexp_replace({expr}, '[a-z0-9 ]', ''))"


def punct_count_sql(expr: str) -> str:
    return f"length(regexp_replace({expr}, '[a-z0-9 ]', '', 'g'))"


def punct_count(expr: str) -> Column:
    return F.expr(punct_count_sexpr(expr))


def quality_score_sexpr(expr: str) -> str:
    """The fixed-order document quality formula (q30 and the corpus
    build pipeline share this ONE definition):
    0.5*stopword_ratio + 0.3*len_score + 0.2*(1 - punct_ratio)."""
    toks = tokens_sexpr(expr)
    n_tok = f"CAST(size({toks}) AS BIGINT)"
    n_chars = f"CAST(length({expr}) AS BIGINT)"
    stop_ratio = (
        f"CAST(CAST({stopword_hits_sexpr(toks, 'en')} AS BIGINT) AS DOUBLE)"
        f" / CAST({n_tok} AS DOUBLE)"
    )
    len_score = f"CAST(least({n_tok}, 100) AS DOUBLE) / 100.0D"
    punct_ratio = (
        f"CAST(CAST({punct_count_sexpr(expr)} AS BIGINT) AS DOUBLE)"
        f" / CAST({n_chars} AS DOUBLE)"
    )
    return (
        f"0.5D * ({stop_ratio}) + 0.3D * ({len_score})"
        f" + 0.2D * (1.0D - ({punct_ratio}))"
    )


def quality_score(expr: str) -> Column:
    return F.expr(quality_score_sexpr(expr))
