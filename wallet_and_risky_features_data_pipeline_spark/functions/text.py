"""Text-analysis expression library (BASELINE.json extension surface).

All pure Column expressions (whole-stage codegen, no Python UDFs):
tokenizer, shingles, language-ID scoring, quality metrics, rolling-hash
fingerprints. Helpers take a *column name* and return a Column, because
several lean on SQL lambda expressions (``transform``/``aggregate``)
that need the column referenced textually. Each has an exact DuckDB
rendering used by the oracles in ``plans/llm_ops.py``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")

# tiny marker sets for the stopword language heuristic
LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "es": ("el", "la", "de"),
    "de": ("der", "die", "und"),
}


def tokens(col: str) -> Column:
    """Whitespace tokenizer (regex split, empties removed)."""
    return F.expr(rf"array_remove(split(trim({col}), '\\s+'), '')")


def token_count(col: str) -> Column:
    return F.size(tokens(col))


def marker_count(col: str, words: tuple[str, ...]) -> Column:
    """Count of tokens that appear in a marker/stopword set."""
    arr = ", ".join(f"'{w}'" for w in words)
    return F.expr(
        rf"size(filter(array_remove(split(trim(lower({col})), '\\s+'), ''),"
        f" t -> array_contains(array({arr}), t)))"
    )


def rolling_hash(col: str, mod: int = 1_000_000_007, mult: int = 31) -> Column:
    """Deterministic polynomial rolling-hash fingerprint (document
    fingerprinting primitive; also usable for shift-resistant chunk
    hashing)."""
    return F.expr(
        f"aggregate(transform(sequence(1, length({col})), i -> ascii(substring({col}, i, 1))),"
        f" CAST(0 AS BIGINT), (acc, c) -> (acc * {mult} + c) % {mod})"
    )


def marker_count_sql(col: str, words: tuple[str, ...]) -> str:
    """DuckDB rendering of marker_count."""
    arr = ", ".join(f"'{w}'" for w in words)
    return (
        rf"len(list_filter(list_filter(string_split_regex(trim(lower({col})), '\s+'),"
        f" t -> t <> ''), t -> list_contains([{arr}], t)))"
    )


TOKENS_SQL = r"list_filter(string_split_regex(trim({col}), '\s+'), t -> t <> '')"
ROLLING_HASH_SQL = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT),"
    " list_transform(generate_series(1, length({col})),"
    " i -> CAST(ascii(substr({col}, i, 1)) AS BIGINT))),"
    " (acc, c) -> (acc * {mult} + c) % {mod})"
)
CHAR_SHINGLES_SQL = (
    "list_transform(generate_series(1, greatest(length(lower(trim({col}))) - {nm1}, 1)),"
    " i -> substr(lower(trim({col})), i, {n}))"
)
