"""Shared JVM-side column expressions for the reference's scalar text
rules — kept as built-in-function compositions so they run inside
whole-stage codegen (no Python in the hot path)."""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from kgspark.kernels.doc_kg import PRED_STOP_WORDS


def words_of(col: Column) -> Column:
    """Whitespace runs, no empties (Java ``\\s``: ASCII whitespace only)."""
    return F.filter(F.split(col, r"\s+"), lambda w: w != "")


def limit_predicate(col: Column, max_words: int = 3) -> Column:
    """Predicate 3-word limit with trailing-stopword drop
    (reference entity_standardization.py:14-38).  Returns the ORIGINAL
    string (original whitespace preserved) when within the limit."""
    ws = words_of(col)
    kept = F.slice(ws, 1, max_words)
    trimmed = F.when(
        F.lower(F.element_at(kept, max_words)).isin(sorted(PRED_STOP_WORDS)),
        F.slice(kept, 1, max_words - 1),
    ).otherwise(kept)
    return F.when(F.size(ws) <= max_words, col).otherwise(F.array_join(trimmed, " "))
