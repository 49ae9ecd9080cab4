"""Portable text expressions (tokens, shingles, stopwords).

Tokenization contract (used by every text operator and its oracle):
``tokens(text) = split on single spaces, drop empties`` — the
documents corpus is strictly single-space separated; a regex variant
is provided for real web text. Keeping the contract tiny is what lets
the DuckDB oracle reproduce it exactly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Stopword set for quality scoring / langid heuristics (frozen).
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]


def tokens(col: Column) -> Column:
    """Array of non-empty tokens (Spark)."""
    return F.filter(F.split(col, " "), lambda t: t != "")


def tokens_sql(expr: str) -> str:
    """Identical tokens in DuckDB SQL."""
    return f"list_filter(string_split({expr}, ' '), t -> t <> '')"


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a token-ARRAY column.

    ``toks`` MUST be a materialized column reference (not an inline
    ``tokens(text)`` expression): Catalyst inlines lambda-captured
    expressions into every element access, so an inline token split
    re-splits the full text once per shingle position — O(tokens²)
    per document, a multi-hour straggler on 10 KB pages. Callers
    project the token array in a prior select (see
    tests/reference_impls.doc_shingles).
    """
    # guard: Spark sequence(0, -1) counts DOWN ([0, -1]); short docs
    # must yield an empty shingle set instead.
    return F.when(F.size(toks) < n, F.array().cast("array<string>")).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
            )
        )
    )


def shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles, space-joined, from a TEXT column.

    Convenience for fixture-scale docs and oracle-checked queries.
    WARNING: quadratic in token count (see shingles_from_tokens) —
    for corpus-scale documents project ``tokens(col)`` first and use
    :func:`shingles_from_tokens`.
    """
    return shingles_from_tokens(tokens(col), n)


def shingles_sql(expr: str, n: int = 3) -> str:
    """Identical distinct n-gram shingles in DuckDB SQL."""
    toks = tokens_sql(expr)
    return (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(len({toks}) - {n - 1}, 0)), "
        f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' ')))"
    )
