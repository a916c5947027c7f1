"""Gopher/C4-style document-quality heuristics (LLM-pipeline filters).

Public-knowledge rules (Rae et al. 2021 "Scaling Language Models"
appendix A1.1; Raffel et al. 2020 C4 filters), adapted to the signals
the corpus actually exercises: word-count bounds, mean word length,
repetition (top-word and duplicate-word fractions), stopword
presence, and alphabetic-word fraction.

Everything is built-in HOF composition (filter/transform/aggregate/
array_distinct) — no Python UDFs, so the whole filter suite runs
inside whole-stage codegen, a pure map with no shuffle: at 100 TB the
filter costs one scan and prunes to the columns it reads. The
repetition metrics are O(words · distinct-words) per document, an
explicit trade for staying JVM-side — at typical document sizes this
is far cheaper than an explode + groupBy that would shuffle every
token.

Every expression has an exact DuckDB list-function twin in
plans/queries_text.py (gopher_quality_flags), so the whole suite is
value-checked, not heuristically tested.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from cli_rag_spark.functions.let import let
from cli_rag_spark.functions.text import STOPWORDS, tokens

# Gopher-ish acceptance thresholds (A1.1, adapted: the corpus has no
# lines/bullets, so line-shape rules are out of scope here).
MIN_WORDS = 5
MAX_WORDS = 100_000
MEAN_WORD_LEN_RANGE = (2.0, 12.0)
MAX_TOP_WORD_FRACTION = 0.20
MAX_DUP_WORD_FRACTION = 0.60
MIN_STOPWORDS = 1
MIN_ALPHA_WORD_FRACTION = 0.80


def _toks(text: Column) -> Column:
    """Null-safe token array: NULL text behaves as an empty document
    everywhere in this module (all-zero metrics, keep=false) — never
    as NULL metrics that poison three-valued comparisons downstream.
    Used by both the convenience per-column functions and
    :func:`with_quality_metrics` so the two paths agree."""
    return F.coalesce(tokens(text), F.array().cast("array<string>"))


def n_words(text: Column) -> Column:
    return F.size(_toks(text))


def mean_word_length(text: Column) -> Column:
    """Average token length; 0.0 for empty docs (not NULL, so the
    threshold comparison stays two-valued)."""
    toks = _toks(text)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(F.size(toks) > 0, total.cast("double") / F.size(toks)).otherwise(F.lit(0.0))


def top_word_fraction(text: Column) -> Column:
    """Fraction of tokens equal to the single most frequent token —
    Gopher's repetition signal reduced to words. max over distinct
    tokens of its occurrence count, divided by token count."""
    return let(_toks(text), lambda toks: F.when(
        F.size(toks) > 0,
        F.array_max(F.transform(
            F.array_distinct(toks), lambda d: F.size(F.filter(toks, lambda t: t == d))
        )).cast("double") / F.size(toks),
    ).otherwise(F.lit(0.0)))


def duplicate_word_fraction(text: Column) -> Column:
    """1 − distinct/total tokens: how much of the doc is repeats."""
    toks = _toks(text)
    return F.when(
        F.size(toks) > 0,
        1.0 - F.size(F.array_distinct(toks)).cast("double") / F.size(toks),
    ).otherwise(F.lit(0.0))


def stopword_count(text: Column, lang: str = "en") -> Column:
    """Occurrences of the language's stopwords among lowercased tokens.

    Gopher (Rae et al. 2021, A1.1) requires ≥2 of a small English list;
    like MIN_WORDS (5 vs Gopher's 50), MIN_STOPWORDS = 1 is scaled down
    for the short synthetic documents. The DuckDB oracle interpolates the
    same constant (queries_text.py), so the two sides cannot drift."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(_toks(F.lower(text)), lambda t: F.array_contains(sw, t)))


def alpha_word_fraction(text: Column) -> Column:
    """Fraction of tokens containing at least one alphabetic char."""
    toks = _toks(text)
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    return F.when(F.size(toks) > 0, n_alpha.cast("double") / F.size(toks)).otherwise(F.lit(0.0))


def gopher_keep(text: Column) -> Column:
    """The combined accept flag over all thresholds.

    Convenience single-column form: it re-derives the token array per
    metric, so use it for one-off flags only — batch scoring goes
    through :func:`with_quality_metrics`, which tokenizes once."""
    nw = n_words(text)
    mwl = mean_word_length(text)
    return (
        (nw >= MIN_WORDS)
        & (nw <= MAX_WORDS)
        & (mwl >= MEAN_WORD_LEN_RANGE[0])
        & (mwl <= MEAN_WORD_LEN_RANGE[1])
        & (top_word_fraction(text) <= MAX_TOP_WORD_FRACTION)
        & (duplicate_word_fraction(text) <= MAX_DUP_WORD_FRACTION)
        & (stopword_count(text) >= MIN_STOPWORDS)
        & (alpha_word_fraction(text) >= MIN_ALPHA_WORD_FRACTION)
    )


def keep_from_metrics() -> Column:
    """Accept flag from already-materialized metric columns (the
    cheap references a final projection may safely repeat)."""
    return (
        (F.col("n_words") >= MIN_WORDS)
        & (F.col("n_words") <= MAX_WORDS)
        & (F.col("mean_word_len") >= MEAN_WORD_LEN_RANGE[0])
        & (F.col("mean_word_len") <= MEAN_WORD_LEN_RANGE[1])
        & (F.col("top_word_frac") <= MAX_TOP_WORD_FRACTION)
        & (F.col("dup_word_frac") <= MAX_DUP_WORD_FRACTION)
        & (F.col("n_stop") >= MIN_STOPWORDS)
        & (F.col("alpha_word_frac") >= MIN_ALPHA_WORD_FRACTION)
    )


def with_quality_metrics(df, text_col: str = "text", lang: str = "en"):
    """Append all quality metric columns + the ``keep`` flag,
    tokenizing each document exactly ONCE.

    The naive spelling (each metric function re-deriving
    ``tokens(text)``) plants ~30 copies of the split+filter in one
    projection — Catalyst does not CSE across output columns, so every
    row would tokenize ~30×. Staged projections fix it: stage 1
    materializes ``_toks``/``_ltoks`` behind aliases (CollapseProject
    keeps a multi-referenced non-cheap alias as its own projection),
    stage 2 derives the metrics from the alias, stage 3 derives
    ``keep`` from the metric columns. Plan-guarded by
    tests/test_plans.py (split count == 2: text + lowered text)."""
    base = df.columns
    staged = df.withColumns(
        {
            "_toks": _toks(F.col(text_col)),
            "_ltoks": _toks(F.lower(F.col(text_col))),
        }
    )
    n = F.size("_toks")
    total_len = F.aggregate("_toks", F.lit(0), lambda acc, t: acc + F.length(t))
    top = F.array_max(
        F.transform(
            F.array_distinct("_toks"),
            lambda d: F.size(F.filter(F.col("_toks"), lambda t: t == d)),
        )
    )
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    n_alpha = F.size(F.filter(F.col("_toks"), lambda t: t.rlike("[A-Za-z]")))
    nz = n > 0
    metrics = staged.select(
        *base,
        n.cast("long").alias("n_words"),
        F.when(nz, total_len.cast("double") / n).otherwise(F.lit(0.0)).alias("mean_word_len"),
        F.when(nz, top.cast("double") / n).otherwise(F.lit(0.0)).alias("top_word_frac"),
        F.when(nz, 1.0 - F.size(F.array_distinct("_toks")).cast("double") / n)
        .otherwise(F.lit(0.0))
        .alias("dup_word_frac"),
        F.size(F.filter(F.col("_ltoks"), lambda t: F.array_contains(sw, t)))
        .cast("long")
        .alias("n_stop"),
        F.when(nz, n_alpha.cast("double") / n).otherwise(F.lit(0.0)).alias("alpha_word_frac"),
    )
    return metrics.withColumn("keep", keep_from_metrics())
